package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Graph, Instruction, Multimodal, Ppm, Similarity, TextAnalysis, Wav, Y4m}

/** Training-data-pipeline operators over the documents/embeddings tables:
  * dedup family, text analysis, similarity search.
  */
object Documents {

  private val stopwords = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Write `batches` as one parquet file each under `inDir` and PIN
    * every file's mod-time to its batch ordinal — the ordered-stream
    * gates (ann13/d23/d24/d25) rely on the AvailableNow file source's
    * mod-time ordering to deliver batch i before batch i+1, and two
    * sub-millisecond writes could otherwise tie (a tie is broken
    * arbitrarily → a flipped batch order → a flaky gate). Explicit
    * setTimes makes the order deterministic regardless of clock
    * resolution or filesystem timestamp granularity. */
  private def writeOrderedBatches(s: SparkSession, inDir: String,
                                  batches: Seq[DataFrame]): Unit = {
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val seen = scala.collection.mutable.Set[String]()
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode("append").parquet(inDir)
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".") &&
            !seen.contains(name)) {
          fs.setTimes(st.getPath, (i + 1) * 1000000L, -1L)
          seen += name
        }
      }
    }
  }

  /** D1 — exact dedup by normalized-content fingerprint. */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    // the AUTO variant live end-to-end: it measures the drop set and
    // picks broadcast-anti (tiny here) vs the payload-shuffle plan —
    // same answer either way, so the oracle gates the selector too
    Dedup.exactDedupAuto(Tables.documents(s, d), "doc_id", "text")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** D4 — word-3-gram Jaccard near-dup pairs (threshold 0.8: the corpus
    * has a clean gap — planted dups sit at ≥0.9, everything else below
    * 0.2), through the size-ROUTED entry point: ≤ 10 k docs (all test
    * SFs — sf0.01's 500 for the driver's oracle gate, sf0.1's 5 k for
    * the bench) runs the exact self-join with the hot-shingle guard
    * armed (cap 100, far above the corpus' max shingle df of 7/25, so
    * the answer is unchanged while the bucket bound is exercised);
    * above 10 k delegates to MinHash+LSH — measured 6.5× cheaper with
    * identical output at 50 k docs (NOTES.md "Measured dedup scaling").
    * Both paths emit exact-verified coefficients and identical pairs on
    * this corpus (gap ≫ LSH miss band). */
  def d4NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.8, maxDocFreq = Some(100))
      .orderBy("id_a", "id_b")

  /** D2 — MinHash+LSH near-dup pairs, exact-verified. Same oracle as D4:
    * with 64 hashes / 16 bands, missing a true j≥0.9 pair has
    * probability ~1e−15, and verification makes precision exact. */
  def d2MinHashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minHashLshDedup(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** D3 — SimHash near-dup gate. The pair SET is xxhash64-specific (no
    * DuckDB twin), so the registered query reduces the operator to what
    * the oracle CAN recompute — the r1_sample pattern. Rows: the exact
    * jaccard ≥ 0.8 pair list (oracle = d2's self-join SQL). Flags,
    * computed over the FULL simhash pair set and attached as 1-row
    * broadcast columns (in-plan, no collect):
    *   - sim_pairs_valid: every simhash pair has id_a < id_b and
    *     hamming ∈ [0, 6] (the banding + verify contract);
    *   - sim_recall_ge_075: simhash recovers ≥ 75% of the jaccard ≥ 0.8
    *     pairs (measured 0.926–1.0 across sf0.001/0.01/0.1; hamming ≤ 6
    *     on token multisets is a different geometry than shingle
    *     jaccard, so 100% coverage is NOT guaranteed — a 0.976-jaccard
    *     pair at sf0.001 legitimately exceeds hamming 6).
    * The full pair set itself stays spec-verified (DedupSpec recall vs
    * exact + banding pigeonhole). */
  def d3SimHash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sim = Dedup.simHashPairs(Dedup.simHash(docs, "doc_id", "text"), 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jac = Dedup.minHashLshDedup(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val simValid = sim.agg(coalesce(min(
      when(col("id_a") < col("id_b") && col("hamming").between(0, 6), 1)
        .otherwise(0)), lit(1)).as("sim_pairs_valid"))
    val nJac = jac.agg(count(lit(1)).as("n_jac"))
    val nHit = jac.join(sim.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val flags = broadcast(simValid.crossJoin(nJac).crossJoin(nHit)
      .select(col("sim_pairs_valid"),
        when(col("n_hit") * 4 >= col("n_jac") * 3, 1).otherwise(0)
          .as("sim_recall_ge_075")))
    jac.crossJoin(flags).orderBy("id_a", "id_b")
  }

  /** D5 — embedding-cosine near-dup pairs (threshold 0.45; the corpus'
    * closest pair to the threshold sits 5e-4 away, far above fp noise).
    * Runs the tiled exact all-pairs join — equi-join on tile keys, no
    * full-corpus broadcast; see Dedup.embeddingNearDupsTiled for why the
    * LSH path is not exact at this threshold on this corpus. */
  def d5EmbedDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupsTiled(Tables.embeddings(s, d), "vec_id", "embedding", 0.45)
      .orderBy("id_a", "id_b")

  /** D8 — semantic dedup (SemDeDup): one keeper per embedding-space
    * near-dup cluster — the composite the pretraining pipelines actually
    * run (pairs → components → prune), oracle-recomputed by DuckDB as a
    * cosine self-join + recursive-CTE closure. Registered path is the
    * exact tiled θ-join (same reasoning as d5: this corpus has no
    * angular gap at 0.45, so cell/LSH bucketing can't be exact here);
    * the within-cell SemDeDup formulation is the scale path, spec-pinned
    * as a superset of this output. */
  def d8SemanticDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding", 0.45)
      .select("vec_id")
      .orderBy("vec_id")

  /** D6 — near-dup clusters: connected components over the d4 pair
    * graph; every document labeled with its component's smallest doc id
    * (its canonical keeper), singletons labeling themselves. The step
    * that turns pair lists into actionable dedup groups. */
  def d6DedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // same size-routed pair generation as d4, so the cluster step rides
    // the LSH path past 10 k docs too (identical pairs on this corpus)
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.8, maxDocFreq = Some(100))
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
    docs.select(col("doc_id"))
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** D7 — incremental exact dedup: docs with doc_id % 5 = 0 arrive as
    * the new batch, the rest is the already-ingested corpus; survivors
    * are batch docs whose fingerprint is new to both the corpus and the
    * batch (smallest id wins within the batch). */
  def d7IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalExactDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** D15 — d7 through the at-rest Bloom-routed fp store: write the
    * store from the corpus slice, run the batch against it. Same oracle
    * as d7 — the Bloom route is exact (negative probes are definitely
    * new; suspects are exact-verified against the parquet fps), so
    * store-vs-live can never diverge without breaking this gate.
    * Written with two Bloom lanes (shards = 2) so the oracle also
    * gates lane routing — the path past the single-filter 1e9-fp
    * ceiling; routing is layout-only, the probe answer is identical by
    * construction. */
  def d15FpStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "fp_store")
    Dedup.writeFpStore(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", dir, expectedTotalFps = 1000000L, shards = 2)
    Dedup.incrementalExactDedupFromFpStore(
        docs.filter(col("doc_id") % 5 === 0), dir, "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** D30 — fp store GENERATION COMPACTION oracle-gated (the d29/t50
    * pattern on the exact-dedup store): the corpus lands in two
    * installments (2-lane base install + appendToFpStore), the fold
    * ([[Dedup.compactFpStore]]) collapses fps generations and per-batch
    * bloom sidecars, and the probe runs against the FOLDED store —
    * same oracle shape as d15 over the union. A fold that loses an fp
    * row (suspect verifies clean → re-admitted) or drops bloom coverage
    * (duplicate probes negative → re-admitted) adds rows and
    * hash-fails. */
  def d30FpCompacted(s: SparkSession, d: String): DataFrame = {
    import graft.core.PhaseTimer.timed
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "fp_compact")
    timed("install") {
      Dedup.writeFpStore(
        docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        "doc_id", "text", dir, expectedTotalFps = 1000000L, shards = 2)
    }
    // localCheckpoint — the append path's caller contract: the append
    // reads the batch frame once per lane filter and once for the
    // parquet write, and an unfrozen lineage would re-run the
    // scan+fingerprint+distinct for each of those jobs
    timed("append") {
      Dedup.appendToFpStore(
        docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
          .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
          .localCheckpoint(),
        dir, batchId = 1L)
    }
    timed("fold") { Dedup.compactFpStore(s, dir) }
    // the probe is the returned frame — its wall is the sample
    // remainder ("rest" in the bench's phases map)
    Dedup.incrementalExactDedupFromFpStore(
        docs.filter(col("doc_id") % 5 === 0), dir, "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** D9 — duplicated-span coverage (word-5-grams shared by ≥ 2 docs):
    * per-doc positional coverage by inter-document repeated spans, the
    * signal exact-substring dedup thresholds on. The corpus' planted
    * near-dups surface as high-coverage docs; everything else sits near
    * zero. Fully oracle-checked: DuckDB recomputes the positional-gram
    * document frequencies on the raw gram strings (the engine's
    * xxhash64 projection is count-invariant). */
  def d9DupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpanCoverage(Tables.documents(s, d), "doc_id", "text",
        n = 5, minDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** D13 — the exact-substring dedup REWRITE (Lee et al. 2021 keep-first
    * removal): d9 measures duplicated-span coverage, this applies it —
    * the cleaned text itself is value-compared against DuckDB running
    * the same first-occurrence rule. */
  def d13DedupRewrite(s: SparkSession, d: String): DataFrame =
    Dedup.removeDupSpans(Tables.documents(s, d), "doc_id", "text", n = 5)
      .orderBy("doc_id")

  /** D18 — CHAR-level exact-substring dedup rewrite (Lee et al.'s
    * actual char-granular formulation; d13 is the word-level twin):
    * every character position covered by a duplicated 20-char window
    * is dropped under the global keep-first rule, docs reassembled
    * from kept characters. Full value compare — the oracle recomputes
    * windows, first occurrences, covered unions, and the character
    * reassembly from scratch. Gate bounded to doc_id < 1500 (t11/t5's
    * pattern): char granularity costs ~wordLen× more gram rows than
    * d13 BY DESIGN, and the bound keeps the 5×-repeated bench query
    * from dominating the battery — it covers the whole corpus at the
    * driver's sf0.01 gate (500 docs) and a 1,500-doc slice at sf0.1;
    * the full-corpus scaling row lives in ScaleProbe (d18 tracks d13
    * at a ~6× premium, linear, no upward bend). */
  def d18CharDedupRewrite(s: SparkSession, d: String): DataFrame =
    Dedup.removeDupSpansChars(
        Tables.documents(s, d).filter(col("doc_id") < 1500),
        "doc_id", "text", n = 20)
      .orderBy("doc_id")

  /** R6 — epoch-based source mixing: src0 makes 3 epochs, src1/src2
    * make 2, the long tail makes 1 — each repetition an independent
    * row tagged with its epoch index (map-side generate, zero shuffle). */
  def r6EpochMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.epochMix(Tables.documents(s, d), "source",
        Map("src0" -> 3, "src1" -> 2, "src2" -> 2))
      .select("doc_id", "source", "epoch")
      .orderBy("doc_id", "epoch")

  /** T12 — corpus-relative quality gate: drop the bottom quartile by
    * composite quality score. Registered path runs the EXACT
    * interpolated percentile (the cross-engine-checkable baseline —
    * DuckDB's quantile_cont computes the same (n−1)·frac rule over the
    * same 6-dp-rounded scores); the approx_percentile scale variant is
    * spec-pinned against it in TextAnalysisSpec. */
  def t12QualityCut(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.widenIfNarrow(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id")
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
    TextAnalysis.qualityCut(scored, "quality", 0.25, exact = true)
      .orderBy("doc_id")
  }

  /** R7 — deterministic shuffle-and-shard (8 shards): every doc gets a
    * reproducible (shard, pos) from md5 arithmetic both engines
    * recompute — the pre-training global shuffle without RNG state or
    * a single-partition sort. */
  def r7ShuffleShard(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.shuffleShard(Tables.documents(s, d), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  /** D10 — incremental near-dup: docs with doc_id % 5 = 0 arrive as the
    * new batch (same split as d7), the rest is the landed corpus; emit
    * every (batch, corpus) pair at Jaccard ≥ 0.8. LSH-bucketed
    * batch×corpus join, exact-verified — the oracle recomputes the
    * exact cross-set pair list (identical here: the corpus' planted
    * dups sit ≥ 0.9, far above the ~3·10⁻⁴ LSH miss band). */
  def d10IncrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", shingleSize = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  /** D11 — the d10 semantics through the AT-REST store: the corpus'
    * hashed shingles + MinHash band keys are landed as parquet (plus
    * a `_meta.json` pinning shingleSize/numHashes/seed/bands), then the
    * batch is paired against the STORE — the production ingest path
    * where the corpus side is read, never recomputed. Same split and
    * parameters as d10, so the oracle is d10's exact cross-set jaccard
    * SQL: store-equals-live is the contract under test (already
    * spec-pinned; this row makes the driver gate it too). */
  def d11NearDupStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "neardup_store")
    Dedup.writeNearDupStore(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", dir)
    Dedup.incrementalNearDupFromStore(docs.filter(col("doc_id") % 5 === 0),
        dir, "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  /** D12 — within-cell SemDeDup gate (the 100 TB path driver-gated).
    * The k-means cells are JVM-float products (no DuckDB twin), but the
    * paper's structural contract IS oracle-checkable: fewer edges
    * (cross-cell pairs are dropped by design) ⇒ finer components ⇒
    * every EXACT keeper is still kept. Rows: the exact SemDeDup keeper
    * list (oracle = d8's recursive-closure SQL); kept_wc = 1 iff the
    * within-cell variant also kept that id — any 0 breaks the superset
    * invariant and the hash. The within-cell keeper set itself stays
    * spec-verified (DedupSpec superset pin). */
  def d12SemanticWc(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    // the exact and within-cell dedups are INDEPENDENT multi-job chains
    // over the same (tiny-projection) input; run each on its own driver
    // thread (guide §2.6) and join the frozen keeper lists — the serial
    // version executed one whole chain after the other
    var exact: DataFrame = null
    var wc: DataFrame = null
    graft.core.Par.run(
      () => exact = Dedup.semanticDedup(e, "vec_id", "embedding", 0.45)
        .select("vec_id").localCheckpoint(),
      () => wc = Dedup.semanticDedupWithinCells(e, "vec_id", "embedding", 0.45)
        .select(col("vec_id"), lit(1).as("kept_wc")).localCheckpoint())
    exact.join(wc, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("kept_wc"), lit(0)).as("kept_wc"))
      .orderBy("vec_id")
  }

  /** R5 — temperature-scaled language mixing (α = 0.5, 200 target rows):
    * per-language quotas ∝ √nᵢ, rows drawn by deterministic md5 rank. */
  def r5TemperatureMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.temperatureMix(
        Tables.documents(s, d), "lang", "doc_id", 0.5, 200)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** T10 — benchmark decontamination: docs with doc_id % 97 = 0 stand in
    * for an eval set; every other doc sharing ≥ 2 distinct word-3-grams
    * with any eval doc is reported with its worst overlap. */
  def t10Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
      .filter(col("shared") >= 2)
      .groupBy(col("id").as("doc_id"))
      .agg(max("shared").as("max_shared"),
        count(lit(1)).as("n_eval_hits"))
      .orderBy("doc_id")
  }

  /** T14 — Bloom-prefiltered decontamination: same report as
    * [[t10Contamination]] (same oracle — the Bloom path is exact after
    * its verify join) through the large-eval-set scale shape: the eval
    * grams travel as a Bloom filter literal, the corpus prefilter is a
    * map-side codegen'd probe, and only survivors pay a join. */
  def t14BloomDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.bloomContaminationPairs(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
      .filter(col("shared") >= 2)
      .groupBy(col("id").as("doc_id"))
      .agg(max("shared").as("max_shared"),
        count(lit(1)).as("n_eval_hits"))
      .orderBy("doc_id")
  }

  /** T15 — span-level decontamination REWRITE (t10/t14's removal
    * counterpart): eval = doc_id % 97 = 0 (the family's convention),
    * and every corpus token position covered by a word-5-gram that
    * occurs anywhere in the eval set is removed, the doc reassembled
    * without it. Corpus docs only; eval rows are not emitted. */
  def t15DecontamRewrite(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.decontaminateRewrite(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  /** T19 — the size-ROUTED decontamination rewrite FORCED onto its
    * Bloom route (maxBroadcastGrams = 0): doc-level Bloom flagging
    * first, the span rewrite over flagged docs only (shuffled eval
    * semi-join), map-side passthrough for the clean rest. Output is
    * bit-identical to t15 by contract, so it shares t15's oracle — a
    * flagging miss, a passthrough normalization divergence, or a
    * dropped/duplicated doc across the union all hash-fail. */
  def t19DecontamAuto(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.decontaminateRewriteAuto(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5,
        maxBroadcastGrams = 0L)
      .orderBy("doc_id")
  }

  /** T23 — the decontamination rewrite through the AT-REST eval-gram
    * store (the streaming ingest loop's read path): publish the eval
    * slice's gram keys + Bloom sidecar once, rewrite the corpus
    * against the STORE. Shares t15's oracle — store-equals-live is the
    * contract (the d15/d20 pattern applied to the decontamination
    * family): a sidecar false NEGATIVE (impossible by Bloom algebra), a
    * dropped gram key, or a verify-join divergence all hash-fail. The
    * streaming foreachBatch twin and the append/grow path stay
    * spec-verified (EventStreamSpec / DedupSpec). */
  def t23DecontamStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "evalgram_store")
    Dedup.writeEvalGramStore(docs.filter(col("doc_id") % 97 === 0),
      "text", dir, n = 5)
    Dedup.decontaminateRewriteFromStore(
        docs.filter(col("doc_id") % 97 =!= 0), dir, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** T50 — eval-gram store GENERATION COMPACTION oracle-gated (the d29
    * pattern on the decontamination store): the suite lands in two
    * installments (base install + appendToEvalGramStore), the fold
    * ([[Dedup.compactEvalGramStore]]) collapses generations, bloom
    * sidecars AND `_stats` counts into batch 0, and the probe runs
    * against the FOLDED store — sharing t15's oracle over the suite
    * union. A fold that loses a gram row (missed contamination), a
    * bloom fold that drops coverage (a probe-negative contaminated doc
    * skips its verify), or a swap that loses the table all hash-fail. */
  def t50DecontamCompacted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "evalgram_compact")
    val suite = docs.filter(col("doc_id") % 97 === 0)
    import graft.core.PhaseTimer.timed
    timed("install") {
      Dedup.writeEvalGramStore(suite.filter(col("doc_id") % 2 === 0),
        "text", base, n = 5)
    }
    timed("append") {
      Dedup.appendToEvalGramStore(suite.filter(col("doc_id") % 2 =!= 0),
        "text", base, batchId = 1L)
    }
    timed("fold") { Dedup.compactEvalGramStore(s, base) }
    Dedup.decontaminateRewriteFromStore(
        docs.filter(col("doc_id") % 97 =!= 0), base, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** T29 — the streaming decontamination ingest ON THE HARD SIGNAL:
    * the eval-gram store is published once, the corpus lands as two
    * parquet fixture batches behind an AvailableNow file source
    * (maxFilesPerTrigger caps each micro-batch, so the run provably
    * spans ≥ 2 batches), the sixth loop
    * ([[graft.streaming.EventStream.streamingDecontamIngest]]) cleans
    * and manifest-publishes every micro-batch, and the PUBLISHED table
    * is what the gate hashes. Shares t15's oracle: streamed ≡ direct
    * was previously only the EventStreamSpec contract — this row makes
    * a flagging miss, a dropped batch, a double publish, or a manifest
    * divergence hash-fail against DuckDB. Reference counterpart: the
    * weekly incremental bronze loop (process_bronze_tables.py:50–69,
    * dag.py:63). The dir is wiped first — a stale checkpoint from an
    * earlier bench repeat would replay instead of re-measure. */
  def t29DecontamStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "t29_stream")
    val (storeDir, inDir) = (s"$base/evalstore", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Dedup.writeEvalGramStore(docs.filter(col("doc_id") % 97 === 0),
        "text", storeDir, n = 5)
    }
    // two fixture batch files: the even and odd halves of the corpus
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    timed("fixtures") {
      corpus.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(inDir)
      corpus.filter(col("doc_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingDecontamIngest(
          stream, storeDir, keptDir, "doc_id", "text")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    graft.sources.Sources.readPublished(s, keptDir)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .orderBy("doc_id")
  }

  /** D16 — quality-argmax keeper per near-dup cluster: d6's component
    * labeling with the keeper elected by composite quality score
    * (ties → smallest id) instead of min id — "keep the BEST copy",
    * the curation policy a real dedup pass applies. Same routed pair
    * generation as d4/d6 so all three agree on the cluster structure. */
  def d16ClusterBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.8, maxDocFreq = Some(100))
    Dedup.clusterKeepers(docs, "doc_id",
        TextAnalysis.qualityScore(col("text"), stopwords), pairs)
      .orderBy("doc_id")
  }

  /** D17 — canonical (C4-style normalized) exact dedup: lowercase,
    * punctuation stripped, whitespace collapsed before fingerprinting,
    * smallest id per canonical form survives. Output carries the
    * canonical fingerprint so the oracle pins the grouping key, not
    * just the survivor set. */
  def d17CanonicalDedup(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalExactDedup(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.canonicalFingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** T16 — stratified (per-language) quality cut: each language keeps
    * its own top 75% by composite quality. The global cut (t12) deletes
    * whole low-resource languages whose score distribution sits below
    * the majority language's quartile; this is the curation-correct
    * variant. Exact percentile for the oracle; the operator's scale
    * default is the one-pass approx sketch. */
  def t16StratifiedCut(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
    TextAnalysis.stratifiedQualityCut(scored, "lang", "quality", 0.25,
        exact = true)
      .select("doc_id", "lang", "quality")
      .orderBy("doc_id")
  }

  /** T18 — within-document self-repetition removal (degenerate-
    * generation / boilerplate cleanup): positions covered by a word-
    * 5-gram repeating WITHIN the same doc are dropped; docs never
    * interact. */
  def t18SelfDedupRewrite(s: SparkSession, d: String): DataFrame =
    Dedup.removeSelfRepetition(Tables.documents(s, d), "doc_id", "text",
        n = 5)
      .orderBy("doc_id")

  /** S-PUBLISH — manifest-committed sink roundtrip: the corpus lands in
    * two published batches, then a CRASH is simulated by writing a third
    * batch dir that never reaches a manifest. The read must see exactly
    * the two committed batches — the oracle compares against the clean
    * table, so a visible orphan (or a lost batch) hash-fails. */
  def sPublishRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Sources
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "published")
    Sources.publishBatch(docs.filter(col("doc_id") % 2 === 0), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 2 =!= 0), dir, 2L)
    // crash residue: data landed, manifest never did — must be invisible.
    // An id range, not `limit`: Spark names a limit's row counter from
    // a JVM-wide sequence, so every run would compile a new class
    docs.filter(col("doc_id") < 50)
      .write.mode("overwrite").parquet(s"$dir/data/batch=99")
    Sources.readPublished(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** S-PUBLISH-COMPACT — maintenance UNDER the manifest: three
    * fragmented publishes land (16 files each), a crashed publish
    * leaves an orphan dir, then `compactPublished` rewrites the live
    * batches into ONE new batch committed as one manifest version.
    * The read afterwards must see exactly the original rows — the
    * oracle is the clean table, so a leaked orphan, a lost batch, or a
    * row duplicated across the flip hash-fails. The dir is wiped first
    * because the query is not naturally idempotent across bench
    * repeats (each run commits fresh versions). */
  def sPublishCompact(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Sources
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "published_compact")
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 0).repartition(16), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 1).repartition(16), dir, 2L)
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 2).repartition(16), dir, 3L)
    // crash residue: data landed, manifest never did — must stay invisible
    docs.filter(col("doc_id") < 50)
      .write.mode("overwrite").parquet(s"$dir/data/batch=99")
    val (_, nOut) = Sources.compactPublished(s, dir, targetFileBytes = 1L << 30)
    require(nOut == 1, s"1 GiB target must compact to one file, got $nOut")
    // GC inside the gated path: vacuum may reclaim ONLY the
    // never-referenced crash residue here (the N-1 grace manifest still
    // pins the pre-compaction batches), and the read after it must
    // still hash-match the clean table
    val vacuumed = Sources.vacuumPublished(s, dir)
    require(vacuumed == Seq(99L),
      s"vacuum must reclaim exactly the crash residue, got $vacuumed")
    Sources.readPublished(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** S-PUBLISH-ZORDER — the clustering half of manifest maintenance
    * (`zorderPublished`): fragmented publishes plus crash residue, then
    * one z-order rewrite committed as one manifest version, vacuum
    * reclaiming exactly the residue, and a read that must still match
    * the clean table — layout changed, content bit-identical. */
  def sPublishZorder(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Sources
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "published_zorder")
    Sources.publishBatch(docs.filter(col("doc_id") % 2 === 0).repartition(8), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 2 =!= 0).repartition(8), dir, 2L)
    docs.filter(col("doc_id") < 50)
      .write.mode("overwrite").parquet(s"$dir/data/batch=99")
    val (_, nOut) = Sources.zorderPublished(s, dir,
      Seq("doc_id", "n_chars"), nFiles = 4)
    // ≤: a range partition can land empty at tiny SFs; the layout
    // geometry itself is ZorderSpec's job, the gate here is content
    require(nOut >= 1 && nOut <= 4, s"z-order layout out of range: $nOut")
    val vacuumed = Sources.vacuumPublished(s, dir)
    require(vacuumed == Seq(99L),
      s"vacuum must reclaim exactly the crash residue, got $vacuumed")
    Sources.readPublished(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** D19 — per-source boilerplate removal: word-5-grams occurring in
    * ≥ 3 distinct docs of the SAME source are stripped from every doc
    * (no keep-first — chrome, not content); the same phrase in a
    * source where it repeats less survives. Full value compare. */
  def d19Boilerplate(s: SparkSession, d: String): DataFrame =
    Dedup.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
        "source", n = 5, minDocs = 3)
      .orderBy("doc_id")

  /** D20 — d19 through the at-rest per-source boilerplate store (the
    * streaming ingest loop's election state): install the store from
    * the corpus, rewrite the corpus against it. Shares d19's oracle —
    * a fresh base install's accumulated counts ARE the corpus' counts,
    * so store and batch paths can only stay green together (the d15/d7
    * pattern applied to the boilerplate family). Cross-batch
    * accumulation and the foreachBatch loop stay spec-verified
    * (DedupSpec / EventStreamSpec). */
  def d20BoilerplateStore(s: SparkSession, d: String): DataFrame = {
    val dir = Gate.scratch(s, "boilerplate_store")
    // widen the narrow corpus ONCE for both whole-corpus gram passes
    // (guide §2.5; no-op on wide input). Caller-side on purpose: the
    // store functions are shared with the d24 ingest loop, whose tiny
    // micro-batches measured WORSE widened (5.8 → 6.6)
    val docs = Tables.widenIfNarrow(Tables.documents(s, d), "doc_id")
    Dedup.writeBoilerplateStore(docs, "doc_id", "text", "source", dir, n = 5)
    Dedup.removeBoilerplateFromStore(docs, dir, "doc_id", "text", "source",
        minDocs = 3)
      .orderBy("doc_id")
  }

  /** T20 — Gopher repetition/quality rules (arXiv:2112.11446 Table A1),
    * full-value oracle: every rule statistic recomputed by DuckDB on
    * raw gram strings. The required-stopword list is fitted to the
    * corpus vocabulary ("the"/"a" are the only Gopher-class stopwords
    * it contains) so stop_hits actually varies; the operator default
    * stays the paper's 8-word list. */
  def t20GopherRules(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text",
        requiredStopwords = Seq("the", "a"))
      .orderBy("doc_id")

  /** R8 — DSIR importance-weighted data selection: the curated TARGET
    * is the src0 slice, the raw pool is the whole corpus, keep the 100
    * most target-like docs. Full-value oracle: DuckDB recomputes the
    * hashed-bucket distributions, smoothed log-ratios, per-doc sums,
    * and the ranked cut. */
  def r8DsirSelect(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // target ⊆ raw (the src0 slice of the same corpus): the subset path
    // reuses the raw side's checkpointed buckets for the target
    // distribution — bit-identical output, one less tokenize+md5 pass
    graft.ops.Sampling.dsirSelectTokenizedWithin(
        docs.select(col("doc_id").as("id"),
          split(trim(col("text")), "\\s+").as("toks")),
        docs.filter(col("source") === "src0")
          .select(col("doc_id").as("id")), n = 100)
      .orderBy("rank")
  }

  /** LLM SELECT pipeline — the curation-then-selection composite as ONE
    * oracle-checked query: Gopher rule filtering (t20) keeps the
    * documents worth considering, DSIR importance weighting (r8) ranks
    * the survivors against the src0 target distribution, top 50
    * selected. Both the bucket distributions AND the target slice are
    * computed over the FILTERED pool (selection after cleaning — the
    * order real pipelines run, because junk docs skew the raw
    * distribution DSIR divides by). DuckDB recomputes the whole chain. */
  def llmSelectPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // tokenize ONCE: the shared (doc_id, source, text, toks) projection
    // feeds BOTH the Gopher rule stage and DSIR's gram pipeline through
    // their *Tokenized entry points — at 100 TB tokenization is the
    // dominant map cost of the composite and must be paid once, not per
    // stage. localCheckpoint materializes the split eagerly; both
    // stages read the blocks (auto-released by the ContextCleaner), and
    // the downstream plan carries ZERO split() calls — the property
    // DocumentsSpec pins by counting `split` in the optimized plan.
    val tok = docs.select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .localCheckpoint()
    val kept = TextAnalysis.gopherRulesTokenized(
        tok.select("doc_id", "text", "toks"),
        requiredStopwords = Seq("the", "a"))
      .filter(col("keep") === 1).select("doc_id")
    // id-keyed semi-join shape: the kept set is ids only, tokens join
    // back by key (AQE broadcasts the smaller side)
    val clean = tok.join(kept, "doc_id")
    // target ⊆ raw (the src0 slice of the cleaned pool): subset path —
    // the target distribution rides the raw side's checkpointed buckets
    graft.ops.Sampling.dsirSelectTokenizedWithin(
        clean.select(col("doc_id").as("id"), col("toks")),
        clean.filter(col("source") === "src0")
          .select(col("doc_id").as("id")), n = 50)
      .orderBy("rank")
  }

  /** T21 — BPE tokenizer train + encode, invariant-gated (r1 pattern:
    * the merge list is corpus-derived so piece identities have no SQL
    * twin, but the encoding's ALGEBRA does): per pinned doc,
    *   detok_ok  — concat(pieces) with "</w>" → space reproduces the
    *               whitespace-normalized text exactly (a dropped or
    *               reordered piece flips it);
    *   bounds_ok — n_pieces ∈ [n_words, n_chars] (segmentation can
    *               never emit fewer pieces than words or more than
    *               characters).
    * The oracle pins ids, n_words, and both flags at 1. Merge-list
    * values and classic-fixture behavior stay spec-pinned. */
  def t21BpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merges = TextAnalysis.trainBpe(docs, "text", numMerges = 200)
    val pieces = graft.plans.GraftFunctions.bpeEncode(s, col("text"), merges)
    val ws = split(trim(col("text")), "\\s+")
    docs.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"), ws.as("_ws"), pieces.as("_p"))
      .select(col("doc_id"),
        size(col("_ws")).cast("long").as("n_words"),
        when(trim(regexp_replace(concat_ws("", col("_p")), "</w>", " ")) ===
          regexp_replace(trim(col("text")), "\\s+", " "), 1L).otherwise(0L)
          .as("detok_ok"),
        // bounds against the NON-EMPTY word count: split(trim('')) is
        // [""] (1 element) while BPE emits 0 pieces for an empty doc,
        // so the raw size() would flip bounds_ok on a corpus that ever
        // contains an empty/whitespace-only text — filtering empty
        // tokens makes the invariant total (normal texts are unchanged:
        // splitting a trimmed non-empty string yields no empty tokens)
        when(size(col("_p")).between(
          size(filter(col("_ws"), w => length(w) > 0)),
          length(regexp_replace(col("text"), "\\s+", ""))), 1L).otherwise(0L)
          .as("bounds_ok"))
      .orderBy("doc_id")
  }

  /** T22 — corpus card: the per-(source, lang) release datasheet, fully
    * value-oracled (counts, token totals, decimal-exact quality sums
    * with min/max data points, exact-dup counts on the shared
    * fingerprint rule). */
  def t22CorpusCard(s: SparkSession, d: String): DataFrame =
    TextAnalysis.corpusCard(Tables.documents(s, d), "doc_id", "text",
        "source", "lang", stopwords)
      .orderBy("source", "lang")

  /** R11 — near-dup leakage-free split census: d6's component pipeline
    * feeding the md5-threshold split keyed on the CLUSTER label, so
    * fuzzy-duplicate groups land whole on one side (r9's exact-dup
    * hygiene extended to the near-dup channel). Census pins the
    * member rule and group-keyed-ness; whole-cluster integrity is
    * spec-pinned (OpsSpec). */
  def r11ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // EXACT pairs here because the oracle's recursive closure is
    // exact-pair by construction and exact is affordable at gate
    // scale. The 100 TB route is [[Dedup.lshPairsMultiSeed]]: a split
    // gate cannot absorb an LSH miss (one missed pair splits a
    // component and flips whole groups' sides — d6 tolerates the same
    // miss as one relabel), so the scale generator runs enough
    // INDEPENDENT MinHash seeds to drive the analytic per-pair miss
    // below 1e-7 (two seeds at j ≥ 0.8 under 16×4 banding) — the
    // family's accepted gram-collision order. DedupSpec proves
    // LSH-components ≡ exact-components on all three SFs; the
    // r11_split_lsh ScaleProbe row pins the flat curve where the
    // exact pass bends.
    val pairs = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 0.8, maxDocFreq = Some(100))
    graft.ops.Sampling.leakageFreeSplitNearDup(
        docs.select("doc_id"), pairs, "doc_id", 25)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy("split")
  }

  /** T28 — n-gram novelty of the crawl against the src0 reference
    * slice: per-doc distinct-5-gram overlap fractions, full-value
    * oracle on raw gram strings (the d9 convention — the engine joins
    * on the 64-bit gram hash, the oracle GROUP BYs raw strings; the
    * ~1e-7 collision risk is the Jaccard family's accepted bound). */
  def t28NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.ngramNovelty(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text", n = 5)
      .orderBy("id")
  }

  /** T27 — crawl-over-crawl doc diff: old = doc_id % 7 ≠ 0, new =
    * doc_id % 5 ≠ 0 (overlapping slices ⇒ real adds AND removes), and
    * every new-side doc_id % 11 = 0 edited ⇒ real `changed` rows. The
    * census pins all four statuses with data-dependent counts; the
    * oracle recomputes the fingerprint classification from scratch. */
  def t27SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    graft.metrics.ReleaseGate.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  /** M16 — INCREMENTAL reprocessing ≡ FULL recompute: t27's snapshot
    * fixture (old = %7≠0, new = %5≠0 with %11 docs edited), the
    * per-doc pipeline = t20's Gopher rules. The old snapshot's rule
    * table is computed once; the composite carries `same` docs'
    * rows forward, re-runs the rules on ONLY changed+added docs, and
    * drops removed docs — and the oracle recomputes the rules over
    * the FULL new snapshot, so a carried-forward stale row, a doc
    * processed twice (union dup), or a missed moved doc all
    * hash-fail. The reference counterpart is the weekly incremental
    * bronze catchup (process_bronze_tables.py:50–69, dag.py:63). */
  def m16IncrementalReproc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    def rules(df: DataFrame): DataFrame =
      TextAnalysis.gopherRules(df, "doc_id", "text",
        requiredStopwords = Seq("the", "a"))
    graft.metrics.ReleaseGate.incrementalReprocess(
        oldSnap, newSnap, rules(oldSnap), "doc_id", "text")(rules)
      .orderBy("doc_id")
  }

  /** M15 — the corpus-snapshot RELEASE GATE: m14's drift PSI and t22's
    * corpus card composed into ONE accept/reject decision
    * ([[graft.metrics.ReleaseGate.snapshotGate]] — the
    * measure→decide→act closure the IVF rebuild policy set as
    * precedent, applied to corpus publishing). Same doc_id % 3 split
    * as m14, so the psi column is pinned to m14's exact value; the
    * oracle recomputes both cards, the PSI chain, and the whole
    * decision rule (hard: vanished group / share collapse / dup-rate
    * jump / psi ≥ 0.25; watch-band escalation on soft card evidence)
    * from scratch in one WITH. */
  def m15ReleaseGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.metrics.ReleaseGate.snapshotGate(
      docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", "source", "lang", stopwords)
  }

  /** M14 — text-quality drift between corpus snapshots: PSI over the
    * expected slice's quality-score deciles (the m8 machinery pointed
    * at the text pipeline — the monitor a crawl-over-crawl ingest runs
    * before deciding the new snapshot is trainable). Slices here are
    * id-residue halves of one corpus, so the pinned PSI is near zero;
    * the oracle recomputes breaks, buckets, clamps, and the sum —
    * a wrong bucket rule or clamp shows up at the 6th decimal. */
  def m14TextDrift(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), stopwords).as("q"))
    graft.metrics.Psi.psi(
      scored.filter(col("doc_id") % 3 =!= 0),
      scored.filter(col("doc_id") % 3 === 0), "q")
  }

  /** Deterministic junk docs for the classifier gate — tokens from a
    * vocabulary disjoint with the corpus, seeded per id so the driver
    * and spec see identical rows. */
  private[queries] def junkDocs(s: SparkSession, n: Int, idBase: Long): DataFrame = {
    import s.implicits._
    val vocab = Vector("zzq", "xxv", "qqw", "vvb", "kkp",
      "jjt", "wwm", "yyr", "hhn", "ggd")
    (0 until n).map { i =>
      val rnd = new scala.util.Random(1000 + i)
      (idBase + i,
        (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** M13 — the model-based quality filter driver-gated (r1_sample
    * pattern: scores are L-BFGS-fit weights over hashed features — not
    * SQL-recomputable — so the registered query reduces them to what
    * the oracle CAN pin): train on the even-id half of corpus ∪
    * synthetic junk, score the odd-id half, emit the pinned held-out
    * id/label grid with two structural flags — `p_ok` (every score in
    * [0, 1]) per row, and a 1-row-broadcast `sep_ok` (held-out clean
    * mean exceeds junk mean by ≥ 0.6; measured ≥ 0.97 − 0.03 across
    * SFs — junk shares zero vocabulary with the corpus, so separation
    * failing means the plumbing broke, not the corpus drifted). */
  def m13QualityFilter(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("label", lit(1.0))
    val junk = junkDocs(s, 100, 1000000L).withColumn("label", lit(0.0))
    val all = clean.unionByName(junk)
    // gate-sized model: 2^16 hashed dims / 10 iterations separate a
    // corpus-disjoint junk vocabulary just as completely as the 2^18/20
    // production defaults, at half the driver-gate latency
    val model = graft.ml.QualityClassifier.train(
      all.filter(col("doc_id") % 2 === 0), "label", "text",
      numFeatures = 1 << 16, maxIter = 10)
    val scored = graft.ml.QualityClassifier.score(
        model, all.filter(col("doc_id") % 2 =!= 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sep = broadcast(scored.agg(
      when(avg(when(col("label") === 1.0, col("quality_p")))
        - avg(when(col("label") === 0.0, col("quality_p"))) >= 0.6, 1)
        .otherwise(0).as("sep_ok")))
    scored.select(col("doc_id"), col("label").cast("int").as("label"),
        when(col("quality_p").between(0.0, 1.0), 1).otherwise(0).as("p_ok"))
      .crossJoin(sep)
      .orderBy("doc_id")
  }

  /** T17 — per-language top-10 token vocabulary: the census a
    * tokenizer-training or corpus-mix report runs; window over the
    * vocab-sized counts table, never the corpus. */
  def t17VocabPerLang(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topTokensPerGroup(Tables.documents(s, d), "lang", "text", 10)
      .select("lang", "token", "n", "rank")
      .orderBy("lang", "rank")

  /** T11 — sliding-window chunking (32-token chunks every 24 tokens,
    * i.e. 8-token overlap), output bounded to the first 50 docs. */
  def t11Chunking(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkDocuments(
        Tables.documents(s, d).filter(col("doc_id") < 50),
        "doc_id", "text", 32, 24)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")

  /** T5 — per-token TF-IDF (df over the FULL corpus, output sliced to
    * the first 25 docs to keep the dump bounded). */
  def t5TfIdf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfIdf(Tables.documents(s, d), "doc_id", "text")
      .filter(col("id") < 25)
      .orderBy("id", "token")

  /** T6 — repetition filters: distinct-token ratio and max single-token
    * frequency, the standard degenerate-document signals. */
  def t6Repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"),
        TextAnalysis.maxTokenRatio(col("text")).as("max_token_ratio"))
      .orderBy("doc_id")

  /** T7 — PII scrubbing: deterministic synthetic PII is appended to a
    * slice of docs (the corpus itself has none), then redacted with the
    * RE2-compatible pattern set; counts + redacted length are
    * hash-compared against DuckDB running the SAME patterns. */
  def t7RedactPii(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).withColumn("text2",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact alice@example.com or 555-123-4567"))
          .when(col("doc_id") % 7 === 3, lit(" server at 192.168.0.1"))
          .otherwise(lit(""))))
    seeded.select(col("doc_id"),
        TextAnalysis.piiCount(col("text2")).cast("long").as("n_pii"),
        length(TextAnalysis.redactPii(col("text2"))).cast("long")
          .as("n_chars_redacted"))
      .orderBy("doc_id")
  }

  /** T8 — concat-and-chop sequence packing (budget 512 tokens, 8 shards). */
  def t8PackSequences(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
        budget = 512, shards = 8)
      .orderBy("id")

  /** T9 — unigram LM fluency score over the corpus's own distribution. */
  def t9LmScore(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id")

  /** T24 — the CCNet-style interpolated bigram LM score: per-doc mean
    * ln(λ·P_bigram + (1−λ)·P_add-one-unigram), model capped by
    * (count desc, md5 asc) so the cap is collation-proof. The oracle
    * recomputes the counts, the caps, the interpolation — with the
    * SQL written `(1 - 0.7)`, not `0.3`, so both engines evaluate the
    * IDENTICAL double — and the per-doc average. */
  def t24BigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id")

  /** T25 — CCNet's head/middle/tail partition per language over the
    * t24 score, with EXACT-INTEGER third boundaries ((rk−1)·3 vs n−1)
    * so the bucket edge cannot drift between engines, censused per
    * (lang, bucket). */
  def t25CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
    TextAnalysis.ccnetBuckets(scored, "lang", "avg_logp", "id")
      .groupBy("lang", "bucket")
      // DECIMAL sum, not a rounded double sum: the scores are
      // 6-dp-rounded (exact in DECIMAL), and a double sum's
      // partition-order error near a rounding half-way point is the
      // exact hazard t22's q_sum moved to DECIMAL for (gotcha 14)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_logp").cast("decimal(20,6)")).cast("double")
          .as("logp_sum"))
      .orderBy("lang", "bucket")
  }

  /** LLM_CCNET — the full CCNet selection composite (Wenzek et al.
    * 2019): the bigram LM is trained on the TARGET domain (source =
    * src0, the DSIR target convention — CCNet's Wikipedia role), the
    * whole corpus is scored under it, per-language head/middle/tail
    * thirds are cut, and head+middle are kept (CCNet's standard cut:
    * the tail is "unlike the target"). Census per (lang, bucket) with
    * the kept flag; DECIMAL logp sums. The oracle recomputes the
    * target-trained model, the cross-corpus scoring, the integer
    * thirds, and the census in one WITH. */
  def llmCcnetPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextAnalysis.bigramLogProbAgainst(
        docs.filter(col("source") === "src0"), docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
    TextAnalysis.ccnetBuckets(scored, "lang", "avg_logp", "id")
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_logp").cast("decimal(20,6)")).cast("double")
          .as("logp_sum"))
      .withColumn("kept", when(col("bucket") =!= "tail", 1L).otherwise(0L))
      .orderBy("lang", "bucket")
  }

  /** LLM_CURRICULUM — score-driven training order end-to-end: the
    * corpus scored under the src0-trained CCNet bigram LM
    * (target-likeness as the difficulty signal), then every scored
    * doc given its dense GLOBAL training position, most target-like
    * first — curriculum learning's easy-first schedule (Bengio et
    * al. 2009) with the CCNet score as difficulty. Docs without LM
    * evidence (< 2 tokens) are excluded: nothing to order on. The
    * rank is the distributed one-group range rank (r12's shape — a
    * bare Window.orderBy would single-task the corpus); the oracle
    * replays the target-trained LM chain AND the global row_number,
    * so a scoring drift or a range-offset misalignment anywhere
    * shifts positions and hash-fails. */
  def llmCurriculumPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextAnalysis.bigramLogProbAgainst(
        docs.filter(col("source") === "src0"), docs, "doc_id", "text")
      .filter(col("avg_logp").isNotNull)
      .select(col("id").as("doc_id"), col("avg_logp"))
    graft.ops.Sampling.curriculumOrder(scored, "doc_id",
        Seq(desc("avg_logp")))
      .select(col("doc_id"), col("avg_logp"), col("position"))
      .orderBy("doc_id")
  }

  /** T26 — the bigram LM through the AT-REST model store: the target
    * slice's capped count tables + exact denominator are published
    * once ([[TextAnalysis.writeBigramLmStore]]), then the whole
    * corpus scores against the STORE. Store ≡ live is the contract
    * (shared scoring tail, Double.toString round-trip denominator),
    * so this full-value oracle recomputes the target-trained chain
    * exactly as llm_ccnet's does — a dropped count row, a cap-order
    * drift, or a denominator precision loss all hash-fail. The
    * streaming twin stays spec-verified (EventStreamSpec). */
  def t26BigramLmStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "bigram_lm_store")
    TextAnalysis.writeBigramLmStore(
      docs.filter(col("source") === "src0"), "text", dir)
    TextAnalysis.bigramLogProbFromStore(docs, dir, "doc_id", "text")
      .orderBy("id")
  }

  /** R9 — leakage-free split census: the md5-threshold split keyed on
    * the canonical content fingerprint, so exact-dup groups land whole
    * on one side (Lee et al. 2021's train/test contamination channel
    * closed at split time). The census pins both the member RULE
    * (doc counts per side) and the GROUP-keyed-ness (distinct
    * fingerprints per side); whole-group integrity itself is
    * spec-pinned (OpsSpec — zero straddling groups). */
  def r9LeakageSplit(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.leakageFreeSplit(Tables.documents(s, d), "text", 25)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_groups"))
      .orderBy("split")

  /** R10 — UniMax language-budget census: the water-filling allocation
    * over per-language token capacities (cap = 2 epochs) against a
    * 100 k-token budget, plus each language's selected-doc census
    * (full epochs + md5-rank greedy prefix). ALL integer arithmetic —
    * the oracle replays the recurrence as a recursive CTE and the
    * prefix as a window cumsum, bit-for-bit. The budget spans both
    * regimes across SFs: at sf≤0.01 every language caps out (epoch
    * limit binds), at sf0.1 the equal-share water level binds. */
  def r10Unimax(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.unimaxCensus(Tables.documents(s, d), "doc_id",
        "lang", "text", budgetTokens = 100000L, maxEpochs = 2)
      .orderBy("lang")

  /** R12 — global curriculum order driver-gated: every document's
    * dense 1-based training position under ascending length (a cheap
    * SQL-recomputable difficulty proxy; production callers pass a
    * quality or LM score), doc_id tie-break. This is
    * [[graft.ops.DistributedRank]]'s DEGENERATE one-group case on the
    * hard signal — the whole corpus is ONE rank group, the shape a
    * bare `Window.orderBy` would single-task (Spark warns) — so a
    * mis-aligned range-partition offset anywhere shifts every
    * position and hash-fails against DuckDB's row_number. */
  def r12CurriculumOrder(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.curriculumOrder(
        Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).as("difficulty")),
        "doc_id", Seq(col("difficulty")))
      .select(col("doc_id"), col("position"))
      .orderBy("doc_id")

  /** R4 — per-language quota sample: cap each language at 30 docs chosen
    * by the cross-engine-reproducible md5 rank (corpus balancing). */
  def r4QuotaSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.quotaSample(Tables.documents(s, d), "lang", "doc_id", 30)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** LLM curation pipeline — the round-8 session-4 operators composed
    * end-to-end as ONE oracle-checked query: canonical ("fuzzy-exact")
    * dedup → SPAN-level decontamination rewrite against the eval set
    * (doc_id % 97 = 0) → per-language stratified quality cut over the
    * CLEANED text → per-language corpus census. Order matters and is
    * the production order: dedup before decontamination (fewer docs to
    * rewrite), quality LAST (scores must reflect what survives the
    * rewrite — a doc gutted by decontamination should be judged on its
    * remains). The DuckDB twin recomputes the whole chain. */
  def llmCurationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    // the dedup output rides the one-split scan partitioning; widen it
    // (source-scan probe — the dedup plan is not map-shaped) so the
    // rewrite's gram pass and the quality pass run at core parallelism
    val surv = Tables.widenIfSourceNarrow(
      Dedup.canonicalExactDedup(corpus, "doc_id", "text"),
      docs, col("doc_id"))
    val clean = Dedup.decontaminateRewrite(surv, evalSet,
      "doc_id", "text", n = 5)
    // re-attach lang: the rewrite projects (id, n_toks, n_kept,
    // clean_text); the id-keyed dimension join is AQE-broadcast-or-
    // shuffle of skinny rows, never the text
    val scored = clean.join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_kept"),
        TextAnalysis.qualityScore(col("clean_text"), stopwords)
          .as("quality"))
    TextAnalysis.stratifiedQualityCut(scored, "lang", "quality", 0.25,
        exact = true)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_kept").as("tok_total"),
        round(sum("quality"), 4).as("quality_sum"))
      .orderBy("lang")
  }

  /** LLM corpus pipeline — the end-to-end composite this operator
    * family exists for, as ONE oracle-checked query: exact dedup →
    * quality + repetition filtering → per-language quota sampling →
    * shard-local sequence packing → per-(lang, shard) corpus summary.
    * Every stage is the registered scale-path operator; the DuckDB twin
    * recomputes the whole chain independently. */
  def llmCorpusPipeline(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Sampling
    val deduped = Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
    val filtered = deduped
      .withColumn("q", TextAnalysis.qualityScore(col("text"), stopwords))
      .withColumn("rep", TextAnalysis.repetitionRatio(col("text")))
      .filter(col("q") >= 0.4 && col("rep") < 0.5)
    val sampled = Sampling.quotaSample(filtered, "lang", "doc_id", 40)
    // lang rides through the packer: a join back onto `sampled` would
    // re-run the whole dedup→score→quota lineage a second time
    TextAnalysis.packSequences(sampled, "doc_id", "text",
        budget = 256, shards = 4, carry = Seq("lang"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"),
        max("chunk_id").as("max_chunk"),
        sum("n_tokens").as("tok_total"))
      .orderBy("lang", "shard")
  }

  /** LLM pretrain pipeline — the round-4 operators composed end-to-end
    * as ONE oracle-checked query: exact dedup → benchmark
    * decontamination (drop corpus docs sharing ≥ 2 word-3-grams with
    * the eval slice) → temperature-scaled language mixing (α = 0.5,
    * 300 target docs) → sliding-window chunking (32/24) → per-language
    * corpus summary. Every stage is the registered scale-path operator;
    * the DuckDB twin recomputes the whole chain independently. */
  def llmPretrainPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    // deduped feeds BOTH the contamination probe and the anti-join left
    // side — persist it once or the scan→fingerprint→rank lineage runs
    // twice inside the same job (no exchange to reuse across branches).
    // exactDedup's output inherits the SCAN partitioning (its contract
    // keeps text out of exchanges), so on the one-row-group input every
    // downstream gram/chunk pass would run serial — widen via the
    // source-scan probe (the dedup plan itself is not map-shaped)
    val deduped = Tables.widenIfSourceNarrow(
        Dedup.exactDedup(corpus, "doc_id", "text"),
        docs, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contaminated = Dedup.contaminationPairs(
        deduped, evalSet, "doc_id", "text", 3)
      .filter(col("shared") >= 2)
      .select(col("id").as("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = graft.ops.Sampling.temperatureMix(clean, "lang", "doc_id", 0.5, 300)
    // lang rides through the chunker (carry) — a join back onto `mixed`
    // would re-run the dedup→decontaminate→mix lineage a second time
    TextAnalysis.chunkDocuments(mixed, "doc_id", "text", 32, 24,
        carry = Seq("lang"))
      .groupBy("lang")
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("chunk_tokens"))
      .orderBy("lang")
  }

  /** LLM shard pipeline — the round-7 operators composed end-to-end as
    * ONE oracle-checked query: epoch-based source mixing (src0/src1
    * make 2 epochs) → deterministic shuffle-and-shard over the
    * (doc, epoch) row key → per-shard corpus summary. max_pos = n_rows
    * doubles as an in-oracle contiguity check on the shard ranking.
    * Every stage is the registered scale-path operator; the DuckDB twin
    * recomputes the whole chain independently. */
  def llmShardPipeline(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Sampling
    val mixed = Sampling.epochMix(Tables.documents(s, d), "source",
      Map("src0" -> 2, "src1" -> 2))
    val keyed = mixed.withColumn("row_key",
      col("doc_id") * 10 + col("epoch"))
    Sampling.shuffleShard(keyed, "row_key", 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tok_total"),
        max("pos").as("max_pos"))
      .orderBy("shard")
  }

  /** G — generator coverage: explode over a computed array (first-5
    * tokens per doc), aggregated to a word frequency table. */
  def gExplodeSlice(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(slice(split(trim(col("text")), "\\s+"), 1, 5)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w"))

  /** S-JSONL — the de-facto LLM corpus interchange format: dump the
    * documents table as JSON Lines, read it back with an explicit
    * schema (no inference pass at scale), aggregate per language.
    * Parity subtlety: JSONL round-trips text verbatim but a read
    * without a schema would re-infer long-vs-double; the explicit
    * schema keeps types bit-stable. */
  def sJsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d)
    val tmp = Gate.scratch(s, "jsonl_roundtrip/documents")
    src.write.mode("overwrite").json(tmp)
    s.read.schema(src.schema).json(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy("lang")
  }

  /** T1 — token counting: whitespace tokens + BPE-ish subword estimate. */
  def t1TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  /** T2 — quality features + composite score. */
  def t2Quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(Seq(col("doc_id")) ++
        TextAnalysis.qualityFeatures(col("text"), stopwords) :+
        TextAnalysis.qualityScore(col("text"), stopwords).as("quality"): _*)
      .orderBy("doc_id")

  /** T3 — language-ID heuristic over stopword profiles. */
  def t3LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** T4 — md5 content fingerprint over normalized text. */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** ANN1 — exact brute-force cosine top-5 for the first 5 vectors. */
  def ann1BruteForce(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), 5)
      .orderBy("q_id", "rank")
  }

  /** Shared ANN gate (r1_sample pattern): the approximate top-k's
    * NEIGHBOR ids are hyperplane-/quantizer-specific (no DuckDB twin),
    * so the registered frame reduces to oracle-recomputable rows — one
    * per (q_id, rank), pinned to the query set × 1..k — plus invariant
    * flags:
    *   - sim_ok (per row): cos_sim ∈ [-1, 1] and non-increasing in rank
    *     (the window-order contract);
    *   - neighbor_ok (per row): the neighbor is not the query itself;
    *   - recall_floor_ok (1-row broadcast, in-plan): total overlap with
    *     the exact brute-force top-k across all queries clears a
    *     measured floor — the approximate structure must actually find
    *     true neighbors, not just emit well-shaped rows.
    * The raw neighbor lists stay spec-verified (SimilaritySpec /
    * IvfReconcileSpec recall + determinism). */
  private[graft] def annInvariantGate(approx: DataFrame, exact: DataFrame,
                                      recallFloor: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("rank")
    // persisted: the flag's semi-join AND the emitted frame both read
    // `rows` — unpersisted, the whole approximate top-k (LSH/IVF
    // shuffles + window) would execute twice, and the flag could in
    // principle be stamped over a different realization than the rows
    val rows = approx
      .withColumn("_prev", lag(col("cos_sim"), 1).over(w))
      .select(col("q_id"), col("rank"), col("n_id"),
        when(col("cos_sim").between(-1.0, 1.0) &&
          (col("_prev").isNull || col("cos_sim") <= col("_prev")), 1)
          .otherwise(0).as("sim_ok"),
        when(col("n_id") =!= col("q_id"), 1).otherwise(0).as("neighbor_ok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val flag = broadcast(
      rows.join(exact.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_semi")
        .agg(when(count(lit(1)) >= recallFloor, 1).otherwise(0)
          .as("recall_floor_ok")))
    rows.drop("n_id").crossJoin(flag).orderBy("q_id", "rank")
  }

  /** ANN2 — LSH-bucketed approximate top-5, invariant-gated (floor: ≥ 3
    * of 25 exact-top-5 hits; measured 8–12 across sf0.001/0.01/0.1 on
    * this near-uniform corpus — random chance is ~0). */
  def ann2Lsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    annInvariantGate(
      Similarity.lshTopK(e, q, 5, dim = 64),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 3)
  }

  /** ANN3 — IVF approximate top-5 (k-means quantizer, nProbe cells),
    * invariant-gated (floor: ≥ 8 of 25; measured 17–19 across SFs). */
  def ann3Ivf(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    annInvariantGate(
      Similarity.ivfTopK(e, q, 5, nCells = 8, nProbe = 4),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 8)
  }

  /** ANN4 — the at-rest IVF path driver-gated: the index is written
    * `partitionBy(cell)`, probes prune the scan to their cells, answers
    * equal `ivfTopK` with the same quantizer seed — so the gate is
    * ann3's invariant oracle with ann3's measured floor. */
  def ann4IvfStore(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val path = Gate.scratch(s, "ivf_index")
    val centroids = Similarity.writeIvfIndex(e, path, nCells = 8)
    annInvariantGate(
      Similarity.ivfTopKFromIndex(path, centroids, q, 5, nProbe = 4),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 8)
  }

  /** ANN5 — the IVF GROW path driver-gated: the index is built from
    * 80% of the corpus, the remaining 20% lands via `appendToIvfIndex`
    * (nearest-existing-centroid assignment, batch-keyed idempotent
    * overwrite), and the queries run over the grown index. Gate is
    * ann3's invariant oracle (floor ≥ 8 of 25; measured {16, 18, 15}
    * across sf0.001/0.01/0.1 — tracks ann3's 17–19 despite the 80%
    * quantizer fit). */
  def ann5IvfAppend(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val path = Gate.scratch(s, "ivf_index_grow")
    val centroids = Similarity.writeIvfIndex(
      e.filter(col("vec_id") % 5 =!= 0), path, nCells = 8)
    Similarity.appendToIvfIndex(
      e.filter(col("vec_id") % 5 === 0), path, batchId = 1L)
    annInvariantGate(
      Similarity.ivfTopKFromIndex(path, centroids, q, 5, nProbe = 4),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 8)
  }

  /** ANN20 — the IVF maintenance loop CLOSED in one oracle gate (the
    * d29/d30 convention applied to the rebuild story, finishing the
    * store-maintenance matrix): install over the full corpus, CHURN
    * deletes until the drift monitor demands a rebuild — every vector
    * of the smallest query-free cell is tombstoned, so the dead-cell
    * arm of `shouldRebuildIvf` trips by construction and the gate
    * `require`s it (measure → decide → act, ann13's loop with the act
    * arm executed) — then `rebuildIvfIndex` SIDE BY SIDE (fresh
    * quantizer over the live population; tombstoned bytes compacted
    * away by construction), and the probe serves from the REBUILT
    * index against the post-churn brute-force truth. Invariant-gated
    * like ann4 (floor ≥ 8 of 25; measured {15, 21, 21} across
    * sf0.001/0.01/0.1 — the victim cell holds {1, 62, 267} vectors). */
  def ann20IvfRebuilt(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val base = Gate.scratch(s, "ann20_ivf")
    val path = s"$base/index"
    import graft.core.PhaseTimer.timed
    timed("install") { Similarity.writeIvfIndex(e, path, nCells = 8) }
    // deterministic churn: tombstone EVERY vector of the smallest cell
    // holding no query vector (queries must survive to be asked)
    val removedIds = timed("churn") {
      val cells = s.read.parquet(s"$path/cells").select("n_id", "cell")
      val qCells = cells.filter(col("n_id") < 5).select("cell").distinct()
        .collect().map(_.getInt(0)).toSet
      val victim = (0 until 8).filterNot(qCells).min
      val removed = cells.filter(col("cell") === victim)
        .select("n_id").localCheckpoint()
      Similarity.removeFromIvfIndex(removed, path, batchId = 1L,
        idCol = "n_id")
      // the monitor must DEMAND the rebuild over the live occupancy —
      // require, not assume: the gate pins the whole maintenance loop
      val occ = Similarity.liveIndexRows(s, path)
        .groupBy("cell").count().collect().map(_.getLong(1))
      val skew = occ.max.toDouble * occ.length / occ.sum
      require(Similarity.shouldRebuildIvf(8, occ.length.toLong, skew),
        s"churn fixture must trip the rebuild monitor " +
          s"(nonEmpty=${occ.length}, skew=$skew)")
      removed
    }
    val rebuilt = s"$base/index_v2"
    val newCentroids = timed("rebuild") {
      Similarity.rebuildIvfIndex(s, path, rebuilt, nCells = 8)
    }
    val liveCorpus = e.join(
      removedIds.select(col("n_id").as("vec_id")), Seq("vec_id"),
      "left_anti")
    annInvariantGate(
      Similarity.ivfTopKFromIndex(rebuilt, newCentroids, q, 5, nProbe = 4),
      Similarity.bruteForceTopK(liveCorpus, q, 5), recallFloor = 8)
  }

  /** ANN6 — hybrid re-rank: exact top-20 cosine candidates re-ordered
    * by 0.8·cos + 0.2·quality (the document's composite quality score,
    * doc_id = vec_id), top-5 kept. Candidate stage is the exact
    * baseline so the whole chain is value-oracle-able; at corpus scale
    * the ANN generators feed the identical re-rank (generator-agnostic
    * input shape). */
  /** ANN8 — product-quantization top-5 in the production serving shape:
    * ADC retrieval over the compressed codes (8 subspaces × 16
    * centroids — 64 floats → 8 codes, ~32× scoring payload compression)
    * pools 50 candidates per query, exact cosine re-ranks only that
    * sliver. Invariant-gated like ann2/ann3; floor 6 of 25, MEASURED
    * {17, 21, 15} across sf0.001/0.01/0.1 at the registered settings
    * (ADC alone measures {6, 10, 4} on this no-angular-gap corpus —
    * the re-rank step is what makes PQ serve, same story as ann3's
    * nProbe; codebooks train on a ≤ 20 k bounded sample, 5 Lloyd
    * iterations — both knobs measured recall-neutral ± 2). */
  def ann8PqAdc(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val cb = Similarity.trainPq(e, dim = 64, m = 8, k = 16,
      sampleCap = 20000)
    annInvariantGate(
      Similarity.pqTopKReranked(Similarity.pqEncode(e, cb), cb, q, e, 5,
        depth = 50),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 6)
  }

  /** ANN9 — ann8 through the at-rest PQ index (codes + codebooks +
    * meta landed, searched from disk): a fresh base install encodes
    * exactly what the live path encodes (seeded codebooks), so this
    * shares ann8's invariant gate and floor verbatim — the ann4/ann3
    * store-vs-live pattern applied to the PQ family. Append/grow and
    * layout round-trip stay spec-verified (SimilaritySpec). */
  def ann9PqStore(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val path = Gate.scratch(s, "pq_index")
    Similarity.writePqIndex(e, path, dim = 64, m = 8, k = 16,
      sampleCap = 20000)
    annInvariantGate(
      Similarity.pqTopKFromIndex(path, q, e, 5, depth = 50),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 6)
  }

  /** ANN10 — IVF-PQ with residual encoding (the canonical FAISS IVFPQ:
    * coarse cells route, PQ codes the residuals, probes ADC-score only
    * their cells' codes, exact re-rank of the depth sliver).
    * Invariant-gated; floor 5 of 25, MEASURED {17, 15, 10} across
    * sf0.001/0.01/0.1 — nProbe 4 of 8 cells bounds recall the same way
    * ann3's probe budget does. */
  def ann10IvfPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    annInvariantGate(
      Similarity.ivfPqTopK(e, q, 5),
      Similarity.bruteForceTopK(e, q, 5), recallFloor = 5)
  }

  def ann6HybridRerank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
    val quality = Tables.documents(s, d).select(
      col("doc_id").as("vec_id"),
      TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
    Similarity.hybridRerank(
        Similarity.bruteForceTopK(e, q, 20), quality,
        k = 5, alpha = 0.8, idCol = "vec_id", scoreCol = "quality")
      .orderBy("q_id", "rank")
  }

  /** ann7's at-rest index path — exposed so the oracle SQL (built in
    * the same JVM) can point DuckDB at the very files the stats ran
    * over, the pipeline_e2e dump-dir pattern. */
  val ivfStatsDir: String = s"${Gate.scratchRoot}/ivf_index_stats"

  /** ANN7 — the IVF DRIFT MONITOR driver-gated: the index is built from
    * 80% of the corpus, grown by the remaining 20%
    * (`appendToIvfIndex`'s nearest-existing-centroid rule), then
    * `ivfCellStats` measures the per-cell occupancy distribution across
    * both landed batches. The oracle recounts the distribution straight
    * from the index parquet (cell is a hive partition column), so a
    * miscounted cell, a dropped batch, or a stats-formula drift
    * hash-fails. Closes the documented-but-unimplemented policy loop at
    * `appendToIvfIndex`: `shouldRebuildIvf` consumes exactly this row. */
  def ann7CellStats(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 5 =!= 0),
      ivfStatsDir, nCells = 8)
    Similarity.appendToIvfIndex(e.filter(col("vec_id") % 5 === 0),
      ivfStatsDir, batchId = 1L)
    Similarity.ivfCellStats(s, ivfStatsDir)
  }

  /** ANN11 — incremental index MAINTENANCE driver-gated, the
    * store ≡ live contract for [[Similarity.incrementalReembedIvf]]:
    * two document snapshots are derived deterministically from the
    * corpus (old = id % 7 ≠ 0; new = id % 11 ≠ 0 with id % 13 = 0 docs
    * edited, so the diff carries removed, added, changed AND same in
    * one fixture), the index is built from the old snapshot, then ONE
    * maintenance call tombstones the stale vectors and re-embeds only
    * the moved docs. The gate reads the LIVE rows back out of the
    * index files ([[Similarity.liveIndexRows]], the exact set every
    * probe serves) while the oracle recomputes the embedding of the
    * NEW snapshot directly in SQL — the embedding is an integer-grid
    * function of (length(text), id) both engines can evaluate exactly
    * (elements < 97 are float-exact; sums exact in double). A stale
    * survivor, a killed fresh vector, a served removed id, a double
    * row, or a missed changed-doc re-embed all hash-fail. */
  def ann11IncrementalReembed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    def embed(df: DataFrame): DataFrame = df.select(col("doc_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(length(col("text")) * 31 + col("doc_id") * 17 + i * 7,
          lit(97)).cast("float")).as("embedding"))
    val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val newSnap = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val dir = Gate.scratch(s, "ivf_index_incremental")
    Similarity.writeIvfIndex(embed(oldSnap), dir, nCells = 8,
      idCol = "doc_id")
    Similarity.incrementalReembedIvf(oldSnap, newSnap, embed, dir,
      batchId = 1L, idCol = "doc_id", textCol = "text")
    Similarity.liveIndexRows(s, dir)
      .select(col("n_id").as("doc_id"),
        aggregate(col("n_vec"), lit(0.0d), (a, x) => a + x).as("vec_l1"),
        element_at(col("n_vec"), 1).cast("double").as("v0"))
      .orderBy("doc_id")
  }

  /** D14 — the store APPEND path driver-gated: the corpus lands in TWO
    * installments (initial write + `appendToNearDupStore`), then the
    * batch pairs against the grown store. Same oracle as d10/d11 — the
    * batch must see the whole corpus regardless of how many appends
    * built it. */
  def d14StoreAppend(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "neardup_store_grown")
    Dedup.writeNearDupStore(
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1),
      "doc_id", "text", dir)
    Dedup.appendToNearDupStore(docs.filter(col("doc_id") % 5 === 1),
      dir, "doc_id", "text", batchId = 1L)
    Dedup.incrementalNearDupFromStore(docs.filter(col("doc_id") % 5 === 0),
        dir, "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  /** D29 — d14's grown store with a GENERATION FOLD between the append
    * and the probe ([[Dedup.compactNearDupStore]]'s crash-safe
    * three-phase swap): the probe runs against a store whose
    * install + append generations were compacted into one `batch=0`,
    * and the answer must STILL be d14's exact cross-set jaccard pairs
    * — a fold that lost, duplicated, or mis-partitioned a single
    * shingle/signature/band-key row moves a jaccard and hash-fails.
    * This is the oracle gate for the maintenance op itself (the spec
    * additionally pins the crashed-swap marker and the replay bound). */
  def d29NearDupCompacted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "neardup_store_compacted")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Dedup.writeNearDupStore(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1),
        "doc_id", "text", dir)
    }
    timed("append") {
      Dedup.appendToNearDupStore(docs.filter(col("doc_id") % 5 === 1),
        dir, "doc_id", "text", batchId = 1L)
    }
    timed("fold") { Dedup.compactNearDupStore(s, dir) }
    Dedup.incrementalNearDupFromStore(docs.filter(col("doc_id") % 5 === 0),
        dir, "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  /** MM1 — binary-column plumbing: payload sizes oracle-checked against
    * the utf-8 byte length DuckDB computes. */
  def mm1MediaMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.fromDocuments(Tables.documents(s, d), s).toDF()
      .select(col("media_id"), col("meta.modality").as("modality"),
        length(col("bytes")).as("n_bytes"))
      .orderBy("media_id")

  /** MM2 — modality-routed decode + batch feature extraction,
    * hard-gated by each route's algebraic invariants. Feature values
    * are not SQL-expressible (Goertzel band energies / luminance
    * histograms / temporal luminance means — all JVM float work), but
    * every route pins flags the oracle CAN recompute: feat_dim = 16
    * always; audio band energies each lie in [0, 1] (normalized PCM →
    * power/n² ≤ 1); image histogram FRACTIONS each lie in [0, 1] and
    * sum to 1; video temporal luminance means each lie in [0, 1] AND
    * sum > 0 (every synthesized frame has at least one nonzero text
    * byte — a video row that silently fell to the all-zero
    * undecodable marker flips the flag). A broken decode — wrong dim,
    * NaN features, unnormalized samples, dropped bytes — flips a flag
    * → hash mismatch. Exact WAV/PPM/Y4M round-trips and feature
    * values stay pinned in MultimodalSpec. */
  /** MM3 — video FRAME-SAMPLING plumbing over REAL decoded containers:
    * every video row's Y4M payload (4 frames, 25 fps → 160 ms) is
    * sampled at one frame per 80 ms (offsets 0 and 80 → sample_idx
    * 0 and 1, src_frame_idx 0 and 2 at 25 fps — SQL-recomputable,
    * and the sample-vs-source distinction is itself gated: a
    * generator that conflated the two would emit src_frame_idx 1 at
    * offset 80 and hash-fail), joined with the frame count the
    * real [[graft.operators.Y4m]] decoder walks out of the container
    * (pinned 4 by the oracle — a truncated frame walk, a header
    * mis-parse, or a row silently falling to the undecodable marker
    * breaks the join value). Scale: sampling is a per-row sequence
    * explode; decode amortizes per partition; the join is id-keyed
    * skinny rows. */
  def mm3FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.fromDocuments(Tables.documents(s, d), s)
    val decoded = media.filter(_.meta.modality == "video")
      .map(r => (r.media_id,
        Y4m.decode(r.bytes).map(_.frames.length).getOrElse(-1)))
      .toDF("media_id", "n_frames_decoded")
    Multimodal.sampleFrames(media.toDF(), everyMs = 80L, fps = Some(25.0))
      .join(decoded, "media_id")
      .select(col("media_id"), col("offset_ms"), col("sample_idx"),
        col("src_frame_idx"), col("n_frames_decoded"))
      .orderBy("media_id", "sample_idx")
  }

  def mm2MediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val featSum = aggregate(col("features"),
      lit(0.0), (acc, v) => acc + v.cast("double"))
    Multimodal.extractFeatures(
        Multimodal.fromDocuments(Tables.documents(s, d), s), dim = 16)
      .toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"),
        size(col("features")).as("feat_dim"),
        when(col("modality") === "audio",
            when(forall(col("features"),
              v => v >= 0.0f && v <= 1.0f), 1).otherwise(0))
          .when(col("modality") === "image",
            // real PPM route: histogram FRACTIONS — each in [0, 1] and
            // summing to 1 (± float accumulation)
            when(forall(col("features"), v => v >= 0.0f && v <= 1.0f) &&
              featSum.between(1.0 - 1e-5, 1.0 + 1e-5), 1).otherwise(0))
          .otherwise(
            // real Y4M route: per-time-bin mean luminance — each in
            // [0, 1], and strictly positive in total (text bytes are
            // never all-NUL), so the undecodable zero vector cannot
            // masquerade as a decoded video
            when(forall(col("features"), v => v >= 0.0f && v <= 1.0f) &&
              featSum > 0.0, 1).otherwise(0)).as("feat_ok"))
      .orderBy("media_id")
  }

  /** D21 — prototypicality + diversification, the degenerate one-cell
    * case on the hard signal: with one cluster the centroid is the
    * corpus MEAN embedding (k-means converges to it on step one), so
    * DuckDB replays the whole chain — per-dim mean, 6-dp-rounded
    * cosine, rank, and the 30% most-prototypical drop — exactly. The
    * multi-cell path (real k-means cells) is SimilaritySpec-pinned:
    * per-cell drop counts and planted template mass dropped first. */
  def d21Prototypicality(s: SparkSession, d: String): DataFrame =
    Similarity.prototypicality(Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 1, dropFrac = 0.3)
      .select("vec_id", "proto_sim", "rank", "kept")
      .orderBy("vec_id")

  /** The D4 paper's pipeline end-to-end on the hard signal: SemDeDup
    * (d8's hyperplane/threshold semantic dedup, keepers only) THEN
    * prototypicality diversification over the survivors — dedup first
    * so the template mass that survives exact near-dup removal is
    * still pruned by its centroid distance (Tirumala et al. 2023 run
    * exactly this order). One-cell prototype (the oracle-replayable
    * degenerate case); the oracle chains d8's recursive-CTE keeper
    * closure into d21's mean/rank SQL, so BOTH stages must agree for
    * the hash to land. */
  def llmD4Pipeline(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val keepers = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45)
      .select("vec_id")
    val survivors = emb.join(keepers, Seq("vec_id"), "left_semi")
    Similarity.prototypicality(survivors, "vec_id", "embedding",
        nCells = 1, dropFrac = 0.3)
      .select("vec_id", "proto_sim", "rank", "kept")
      .orderBy("vec_id")
  }

  /** T30 — character-entropy quality signal: the native kernel's
    * per-doc Shannon entropy vs DuckDB's unnest-and-count replay, cut
    * at 2.85 nats (the corpus median — both branches of the keep flag
    * are exercised). */
  def t30CharEntropy(s: SparkSession, d: String): DataFrame =
    TextAnalysis.charEntropyScore(Tables.documents(s, d),
        "doc_id", "text", minEntropy = 2.85)
      .orderBy("doc_id")

  /** R13 — DoReMi domain reweighting over the `source` column: one
    * exponentiated-gradient step from uniform on the hashed-n-gram
    * excess-loss stand-in (per-token KL(domain ‖ corpus)), the paper's
    * uniform smoothing applied. The oracle replays bucket counts,
    * windows, and the softmax in one WITH-chain; excess is rounded
    * BEFORE the exponential on both sides (the r8 ulp rule), so a
    * drifted bucket count or smoothing constant hash-fails. */
  def r13Doremi(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.doremiWeights(Tables.documents(s, d),
        "source", "text", eta = 10.0, smoothing = 0.1)
      .orderBy("domain")

  /** The DoReMi weights APPLIED — deterministic md5-rank mixture draw
    * at the per-domain quotas the weights imply (floor(N·w), ≥ 1,
    * capped by the domain's census). Composite on the hard signal:
    * weights AND selection must both replay. */
  def llmDoremiMix(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.doremiMix(Tables.documents(s, d),
        "source", "doc_id", "text", totalTarget = 200,
        eta = 10.0, smoothing = 0.1)
      .orderBy("source", "doc_id")

  /** The DoReMi family on the TOKENIZE-ONCE contract (the llm_select
    * pattern): ONE split() into a checkpointed (domain, id, toks)
    * projection feeds the weights' gram hashing, the mix's skinny
    * draw rank, AND a per-doc token census — the optimized plan
    * downstream carries ZERO split() calls (pinned in PlanShapeSpec).
    * Same weights+quota+rank semantics as llm_doremi_mix, with the
    * census joined onto the selection so the shared projection is
    * provably consumed by a third stage. */
  def llmDoremiPipeline(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("source").as("domain"), col("doc_id").as("id"),
        split(trim(col("text")), "\\s+").as("toks"))
      .localCheckpoint()
    val sel = graft.ops.Sampling.doremiMixTokenized(tok,
      totalTarget = 200, eta = 10.0, smoothing = 0.1)
    val census = tok.select(col("id"),
      size(col("toks")).cast("long").as("n_tok"))
    sel.join(census, "id")
      .select(col("domain").as("source"), col("id").as("doc_id"),
        col("n_tok"))
      .orderBy("source", "doc_id")
  }

  /** T31 — C4 line-level cleaning (Raffel et al. 2020 §2.2) on a
    * deterministically synthesized multi-line corpus. The synthetic
    * documents are single-line and punctuation-free — no line
    * structure for the rules to bite on — so the gate re-chunks each
    * doc's words into 5-word lines and injects exactly the dirt each
    * rule exists to catch, all keyed on (doc_id, line_idx) integer
    * arithmetic so DuckDB replays the CONSTRUCTION and the CLEANING
    * bit-for-bit (the mm1 synthesize-in-the-gate pattern): every
    * (doc_id + i) % 3 ≥ 2 line loses its terminal '.', every
    * (doc_id + i) % 7 = 0 line grows a " javascript break" tail,
    * every 13th doc gets a lorem-ipsum closing line, every 17th a
    * curly-brace one, every 19th a blocklist-word one — so line
    * drops by all three line rules and page drops by all four page
    * rules are live in the hash. */
  def t31C4LineClean(s: SparkSession, d: String): DataFrame = {
    val ws = split(trim(col("text")), "\\s+")
    val nLines = greatest(ceil(size(ws) / lit(5.0)).cast("long"), lit(1L))
    val lineArr = transform(sequence(lit(1L), nLines), i =>
      concat(
        concat_ws(" ", slice(ws, ((i - 1) * 5 + 1).cast("int"), lit(5))),
        when((col("doc_id") + i) % 7 === 0, lit(" javascript break"))
          .otherwise(lit("")),
        when((col("doc_id") + i) % 3 < 2, lit(".")).otherwise(lit(""))))
    val base = concat_ws("\n", lineArr)
    val mtext = when(col("doc_id") % 13 === 0,
        concat(base, lit("\nlorem ipsum dolor sit amet.")))
      .when(col("doc_id") % 17 === 0,
        concat(base, lit("\nconst cfg = { a: 1 } now done.")))
      .when(col("doc_id") % 19 === 0,
        concat(base, lit("\nthis page has badword content today.")))
      .otherwise(base)
    // widen before the synthetic-multiline construction + line-clean
    // pass (both pure projections — they stay above the exchange)
    val multiline = Tables.widenIfNarrow(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), mtext.as("mtext"))
    TextAnalysis.c4LineClean(multiline, "doc_id", "mtext",
        blocklist = Seq("badword"))
      .orderBy("doc_id")
  }

  /** T32 — Heaps'-law vocabulary growth at 10 equal-document
    * checkpoints in doc_id order. The oracle replays the integer
    * bucket arithmetic ((rank−1)·10 div N + 1), the first-occurrence
    * min-bucket per token, and all three prefix sums — so a bucket
    * boundary off by one doc, a token double-counted across buckets,
    * or a drifted cumulative shifts a row and hash-fails. Counts are
    * exact integers: no rounding anywhere. */
  def t32VocabGrowth(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(s, d), "doc_id", "text",
        numBuckets = 10)
      .orderBy("bucket")

  /** T33 — HTML → text extraction on deterministically synthesized
    * pages (the t31/mm1 synthesize-in-the-gate pattern: the corpus
    * has no markup, so the gate builds it from doc_id arithmetic and
    * DuckDB replays CONSTRUCTION + EXTRACTION bit-for-bit). Each page
    * carries every hazard the chain exists to handle: a script block
    * whose BODY contains `<` and `{` (so a failed block-drop garbles
    * tag stripping), a style block, a comment, heading/paragraph
    * tags, entity-escaped markup (`&lt;a&gt;`), the double-escape
    * `&amp;amp;` (decodes to literal `&amp;` ONLY if `&amp;` is
    * decoded last), and a conditional `<a href>` for the link count.
    */
  /** The t33/llm_web synthesized page, keyed on doc_id arithmetic so
    * DuckDB replays construction bit-for-bit (one definition feeds
    * both gates — the oracle SQL mirrors THIS). */
  private def syntheticHtml: org.apache.spark.sql.Column = {
    val idStr = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), idStr,
      lit("</title><script type=\"text/javascript\">var x = 1; " +
        "if (x < 2) { x = 2; }</script><style>.c { color: red; }" +
        "</style></head><body><!-- note "), idStr,
      lit(" --><h1>Heading</h1><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<p>See &lt;a&gt; &amp;amp; &quot;quotes&quot;&nbsp;here.</p>"))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("<a href=\"http://ex.com/"), idStr,
          lit("\">link text</a>"))).otherwise(lit("")),
      lit("</body></html>"))
  }

  /** The d22/llm_web synthesized crawl URL (same shared-definition
    * rule as syntheticHtml). */
  private def syntheticUrl: org.apache.spark.sql.Column =
    concat(
      lit("HTTPS://WWW.Site"), (col("doc_id") % 7).cast("string"),
      lit(".COM:443/Dir"), (col("doc_id") % 50).cast("string"),
      lit("/page"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="),
          (col("doc_id") % 5).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit("#sec"), col("doc_id").cast("string")))
        .otherwise(lit("")))

  def t33HtmlStrip(s: SparkSession, d: String): DataFrame = {
    val pages = Tables.documents(s, d)
      .select(col("doc_id"), syntheticHtml.as("h"))
    TextAnalysis.htmlToText(pages, "doc_id", "h").orderBy("doc_id")
  }

  /** D22 — URL canonicalization + latest-crawl-wins dedup on
    * synthesized crawl records (doc_id arithmetic → DuckDB replays
    * construction + canonicalization + the keep-latest window).
    * The construction trips every canonicalization rule: uppercase
    * scheme/host/www, explicit :443, a %4 trailing slash, a %3
    * utm-prefixed query (utm removal must restore the `?`), a %5
    * fragment — and fetch_ts = doc_id % 97 manufactures ties so the
    * id tie-break is live in the hash. */
  def d22UrlDedup(s: SparkSession, d: String): DataFrame = {
    val crawls = Tables.documents(s, d).select(col("doc_id"),
      syntheticUrl.as("url"), (col("doc_id") % 97).as("fetch_ts"))
    Dedup.latestPerUrl(crawls, "url", "fetch_ts", "doc_id")
      .select("canon_url", "doc_id", "fetch_ts", "n_crawls")
      .orderBy("canon_url")
  }

  /** D28 — SoftDeDup commonness reweighting
    * ([[graft.operators.Dedup.softDedupWeights]]): the corpus plus two
    * planted reformatting families — %7 docs re-appear uppercased with
    * trailing punctuation, %13 docs with injected whitespace — so
    * canonical commonness is 1, 2, or 3 and the 1/n weights are live
    * at every value. The oracle recomputes the canonical md5, the
    * group count, and the rounded weight from scratch; a
    * normalization drift, a count slip, or a dropped row hash-fails. */
  def d28SoftDedup(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select("doc_id", "text")
    val corpus = t
      .unionByName(t.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(upper(col("text")), lit("!!!")).as("text")))
      .unionByName(t.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("  "), col("text"), lit(" .")).as("text")))
    Dedup.softDedupWeights(corpus, "doc_id", "text")
      .select("doc_id", "n_copies", "soft_weight")
      .orderBy("doc_id")
  }

  /** Soft-dedup MIX composite — d28's weights DRIVE the corpus draw
    * ([[graft.ops.Sampling.weightedSample]] on the md5 noise source):
    * an n-copy text's members each draw at weight 1/n, so the GROUP
    * competes like one unique document while rare phrasings keep
    * their diversity — the SoftDeDup idea carried through to the
    * token-budget cut instead of stopping at a weight column. Oracle
    * replays commonness → weight → Efraimidis–Spirakis priority →
    * top-300 end to end. */
  def llmSoftdedupMix(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select("doc_id", "text")
    val corpus = t
      .unionByName(t.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(upper(col("text")), lit("!!!")).as("text")))
      .unionByName(t.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(lit("  "), col("text"), lit(" .")).as("text")))
    val weighted = Dedup.softDedupWeights(corpus, "doc_id", "text")
      .select("doc_id", "n_copies", "soft_weight")
    graft.ops.Sampling.weightedSample(weighted, "doc_id", "soft_weight",
        n = 300, weightScale = 1.0)
      .select(col("doc_id"), col("n_copies"), col("soft_weight"),
        col("_prio").as("priority"))
      .orderBy("doc_id")
  }

  /** T39 — URL-level curation gate
    * ([[graft.operators.TextAnalysis.urlFilter]], the RefinedWeb
    * front filter): synthetic URLs plant every branch — %11 docs live
    * on (www-prefixed) blocklisted tracker domains, %7 on `co.uk`
    * hosts so the multi-part-suffix rule is live, %13 carry a banned
    * word in the path and %17 in the query (a %13∧%17 doc scores 2).
    * The oracle recomputes host, registered domain, blocklist verdict
    * and occurrence-count score from the raw URL string; a suffix
    * slip (`uk` instead of `blog.co.uk`), a missed www-strip, or an
    * off-by-one in the occurrence arithmetic hash-fails. */
  def t39UrlFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urls = Tables.documents(s, d).select(col("doc_id"),
      concat(
        lit("https://"),
        when(col("doc_id") % 11 === 0,
          concat(lit("www.tracker"), (col("doc_id") % 2).cast("string"),
            lit(".com")))
          .when(col("doc_id") % 7 === 0,
            concat(lit("blog"), (col("doc_id") % 5).cast("string"),
              lit(".co.uk")))
          .otherwise(concat(lit("site"), (col("doc_id") % 9).cast("string"),
            lit(".com"))),
        lit("/p"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 13 === 0, lit("/casino-games"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit("?ref=xxx&x=1"))
          .otherwise(lit(""))).as("url"))
    val blocklist = Seq("tracker0.com", "tracker1.com", "spam.co.uk")
      .toDF("domain")
    TextAnalysis.urlFilter(urls, "doc_id", "url", blocklist,
        bannedWords = Seq("casino", "xxx"))
      .select("doc_id", "url", "domain", "blocked", "url_score", "keep")
      .orderBy("doc_id")
  }

  /** T40 — Fill-in-the-Middle transform
    * ([[graft.operators.TextAnalysis.fimTransform]], PSM order): half
    * the corpus (md5-decided) re-emits as
    * `<PRE>prefix<SUF>suffix<MID>middle` with both cut points drawn
    * from the id's hash. The oracle replays the 24-bit uniforms, the
    * two mod-draws, and the three substrings character-for-character —
    * an off-by-one in a cut, a swapped sentinel, or a drifted apply
    * decision hash-fails. */
  def t40FimTransform(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fimTransform(
        Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text", rate = 0.5)
      .select("doc_id", "fim_applied", "fim_text")
      .orderBy("doc_id")

  /** T41 — control-char / unicode scrub
    * ([[graft.operators.TextAnalysis.scrubText]]): planted C0 controls
    * (%3), CRLF + NBSP + zero-width space tails (%5), and BOM + C1 NEL
    * (%7) — every scrub class live, overlapping on %15/%21/%35 ids.
    * The oracle rebuilds the same planted strings with chr() and
    * replays the three regexp passes; `n_scrubbed` pins the exact
    * removed-char count. */
  def t41TextScrub(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, lit("\u0001\u0007"))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\r\n tail\u00A0x\u200B")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\uFEFF\u0085"))
          .otherwise(lit(""))).as("text"))
    planted
      .withColumn("clean_text", TextAnalysis.scrubText(col("text")))
      .withColumn("n_scrubbed",
        (length(col("text")) - length(col("clean_text"))).cast("long"))
      .select("doc_id", "clean_text", "n_scrubbed")
      .orderBy("doc_id")
  }

  /** Code-pretraining composite — scrub → dedup → FIM → pack, the
    * chain a code corpus actually runs: %9 docs re-appear as ENCODING
    * twins (BOM-prefixed, zero-width + C0 suffixed — byte-different,
    * scrub-identical), so the scrub stage is what MAKES the dedup
    * catch them; survivors FIM-transform at rate 0.5 and pack into
    * 512-token shard-local chunks. Every stage's oracle block is
    * individually proven (t41 / d1 / t40 / t8); the composite pins the
    * hand-offs — dedup on the SCRUBBED text, FIM cuts on the scrubbed
    * length, packing on the FIM output's token count. */
  def llmCodePipeline(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select("doc_id", "text")
    val twins = t.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 700000).as("doc_id"),
        concat(lit("\uFEFF"), col("text"), lit("\u200B\u0007"))
          .as("text"))
    val cleaned = t.unionByName(twins)
      .select(col("doc_id"),
        TextAnalysis.scrubText(col("text")).as("clean"))
    val kept = Dedup.exactDedup(cleaned, "doc_id", "clean")
    val fim = TextAnalysis.fimTransform(kept, "doc_id", "clean",
      rate = 0.5)
    TextAnalysis.packSequences(fim, "doc_id", "fim_text",
        budget = 512, shards = 8, carry = Seq("fim_applied"))
      .select(col("id").as("doc_id"), col("shard"), col("n_tokens"),
        col("chunk_id"), col("fim_applied"))
      .orderBy("doc_id")
  }

  /** T42 — domain-level quality prior
    * ([[graft.operators.TextAnalysis.domainQualityPrior]]): t39's
    * synthetic URL universe (tracker/.co.uk/site domains) scored with
    * t2's quality formula; domains aggregate in DECIMAL and every
    * page inherits its site's verdict. The oracle replays domain
    * extraction, the decimal sum, and the `qsum >= thr·n` comparison
    * from scratch — a float-avg shortcut, a domain split slip, or a
    * wrong exemption hash-fails. */
  def t42DomainPrior(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val urls = docs.select(col("doc_id"),
      concat(
        lit("https://"),
        when(col("doc_id") % 11 === 0,
          concat(lit("www.tracker"), (col("doc_id") % 2).cast("string"),
            lit(".com")))
          .when(col("doc_id") % 7 === 0,
            concat(lit("blog"), (col("doc_id") % 5).cast("string"),
              lit(".co.uk")))
          .otherwise(concat(lit("site"), (col("doc_id") % 9).cast("string"),
            lit(".com"))),
        lit("/p"), (col("doc_id") % 50).cast("string")).as("url"),
      TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
    TextAnalysis.domainQualityPrior(urls, "doc_id", "url", "quality",
        minAvgQuality = 0.81, minDocs = 20L)
      .select("doc_id", "domain", "domain_docs", "domain_qsum", "keep")
      .orderBy("doc_id")
  }

  /** RefinedWeb-style web-curation composite — the URL-first gate
    * order the paper runs (arXiv:2306.01116): URL filtering FIRST
    * (blocklist + banned-word score — cheap, metadata-only), then the
    * domain quality prior computed over the URL SURVIVORS (the
    * censored census is the honest one — blocked domains must not
    * drag their neighbors' averages), then the per-page keep. The
    * oracle chains t39's and t42's proven blocks over the same
    * survivor population; filtering in the wrong order, a leaked
    * blocked page in the census, or a float-avg shortcut hash-fails. */
  def llmRefinedwebPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val urls = docs.select(col("doc_id"),
      concat(
        lit("https://"),
        when(col("doc_id") % 11 === 0,
          concat(lit("www.tracker"), (col("doc_id") % 2).cast("string"),
            lit(".com")))
          .when(col("doc_id") % 7 === 0,
            concat(lit("blog"), (col("doc_id") % 5).cast("string"),
              lit(".co.uk")))
          .otherwise(concat(lit("site"), (col("doc_id") % 9).cast("string"),
            lit(".com"))),
        lit("/p"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 13 === 0, lit("/casino-games"))
          .otherwise(lit(""))).as("url"),
      TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
    val urlKept = TextAnalysis.urlFilter(urls, "doc_id", "url",
        Seq("tracker0.com", "tracker1.com").toDF("domain"),
        bannedWords = Seq("casino", "xxx"))
      .filter(col("keep"))
      .drop("domain", "keep")
    TextAnalysis.domainQualityPrior(urlKept, "doc_id", "url", "quality",
        minAvgQuality = 0.81, minDocs = 20L)
      .filter(col("keep"))
      .select("doc_id", "domain", "domain_docs", "domain_qsum")
      .orderBy("doc_id")
  }

  /** ANN12 — hard-negative mining: every %37 vector anchors a
    * top-5 most-similar CROSS-LABEL search (the contrastive-training
    * negative set). Exact generator on the hard signal — the ann1
    * brute-force shape plus the label-inequality join predicate and
    * the negative's label in the output, so a same-label leak or a
    * rank shift hash-fails. The ANN-fed twin
    * (hardNegativesFromCandidates) is spec-verified. */
  def ann12HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.hardNegatives(e, e.filter(col("vec_id") % 37 === 0), k = 5)
      .orderBy("q_id", "rank")
  }

  /** ANN13 — the CDC streaming index-maintenance loop ON THE HARD
    * SIGNAL (the t29 pattern applied to the engine's most intricate
    * state machine,
    * [[graft.streaming.EventStream.streamingIndexMaintenance]]): the
    * base corpus installs an IVF index, then TWO mutation micro-batches
    * stream through an AvailableNow file source (maxFilesPerTrigger=1
    * forces one file per batch; file mod-times order them). Batch 1
    * carries adds, edits, and deletes; batch 2 carries an
    * edit-AFTER-edit, a delete-AFTER-add, and a re-add-AFTER-delete —
    * every ordering the strictly-greater tombstone rule must get
    * right. The gate hashes [[Similarity.liveIndexRows]] (the exact
    * set every probe serves) against DuckDB recomputing the FINAL
    * corpus's integer-grid embedding: a stale vector surviving, a
    * fresh one killed, a flipped batch order, a replayed tombstone, or
    * a missed re-add all hash-fail. */
  def ann13CdcMaintenance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    def embed(df: DataFrame): DataFrame = df.select(col("doc_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(length(col("text")) * 31 + col("doc_id") * 17 + i * 7,
          lit(97)).cast("float")).as("embedding"))
    val base = Gate.scratch(s, "ann13_cdc")
    val (idxDir, inDir, ckpt) = (s"$base/index", s"$base/in", s"$base/ckpt")
    val id = col("doc_id")
    Similarity.writeIvfIndex(embed(docs.filter(pmod(id, lit(5)) =!= 0)),
      idxDir, nCells = 8, idCol = "doc_id")
    val up = lit("upsert").as("op")
    val del = lit(null).cast("string")
    // batch 1: adds, edits, deletes — disjoint ids (one mutation per
    // id per micro-batch, the loop's contract)
    val b1 = docs
      .filter(pmod(id, lit(5)) === 0 && pmod(id, lit(2)) === 0)
      .select(id, col("text"), up)
      .unionByName(docs
        .filter(pmod(id, lit(5)) =!= 0 && pmod(id, lit(13)) === 0)
        .select(id, concat(col("text"), lit(" v2")).as("text"), up))
      .unionByName(docs
        .filter(pmod(id, lit(5)) =!= 0 && pmod(id, lit(13)) =!= 0 &&
          pmod(id, lit(17)) === 0)
        .select(id, del.as("text"), lit("delete").as("op")))
    // batch 2: edit-after-edit, delete-after-add, re-add-after-delete
    val b2 = docs
      .filter(pmod(id, lit(5)) =!= 0 && pmod(id, lit(13)) === 0 &&
        pmod(id, lit(3)) === 0)
      .select(id, concat(col("text"), lit(" v3")).as("text"), up)
      .unionByName(docs
        .filter(pmod(id, lit(5)) === 0 && pmod(id, lit(2)) === 0 &&
          pmod(id, lit(3)) === 0)
        .select(id, del.as("text"), lit("delete").as("op")))
      .unionByName(docs
        .filter(pmod(id, lit(5)) =!= 0 && pmod(id, lit(13)) =!= 0 &&
          pmod(id, lit(17)) === 0 && pmod(id, lit(2)) === 0)
        .select(id, concat(col("text"), lit(" back")).as("text"), up))
    writeOrderedBatches(s, inDir, Seq(b1, b2))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = graft.streaming.EventStream.streamingIndexMaintenance(
        stream, idxDir, embed, "doc_id", "text")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    Similarity.liveIndexRows(s, idxDir)
      .select(col("n_id").as("doc_id"),
        aggregate(col("n_vec"), lit(0.0d), (a, x) => a + x).as("vec_l1"),
        element_at(col("n_vec"), 1).cast("double").as("v0"))
      .orderBy("doc_id")
  }

  /** D23 — the exact-dedup INGEST loop on the hard signal (the
    * t29/ann13 pattern applied to
    * [[graft.streaming.EventStream.streamingExactDedupIngest]]): a
    * landed slice (%31 = 0) installs the Bloom-fronted fp store, the
    * rest of the corpus streams in two AvailableNow micro-batches
    * (evens first, then odds — mod-times order the files), each batch
    * deduping within itself, against the landed store, AND against
    * every earlier batch's survivors (the store grows per batch). The
    * gate hashes the PUBLISHED kept table against DuckDB replaying
    * the whole keeper rule: rn = 1 over (batch index, doc_id) per
    * normalized-text fingerprint, minus landed fingerprints. A
    * Bloom false NEGATIVE, a dropped store append, a double publish,
    * or a flipped batch order all hash-fail. */
  def d23DedupStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "d23_stream")
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Dedup.writeFpStore(docs.filter(col("doc_id") % 31 === 0),
        "doc_id", "text", storeDir, expectedTotalFps = 100000L)
    }
    val corpus = docs.filter(col("doc_id") % 31 =!= 0)
    timed("fixtures") {
      writeOrderedBatches(s, inDir,
        Seq(corpus.filter(col("doc_id") % 2 === 0),
          corpus.filter(col("doc_id") % 2 =!= 0)))
    }
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingExactDedupIngest(
          stream, storeDir, keptDir, "doc_id", "text")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    graft.sources.Sources.readPublished(s, keptDir)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** D26 — the deterministic streaming exact-dedup TRANSFORM on the
    * hard signal: the corpus (plus constructed whitespace-twin
    * duplicates) streams in two AvailableNow micro-batches and rides
    * [[graft.streaming.EventStream.streamingExactDedup]]'s
    * flatMapGroupsWithState keeper election. The twins are placed so
    * the gate separates ALL THREE candidate semantics:
    *   - odd docs with %7 = 0 get a `text + " "` twin (same normalized
    *     fingerprint, id + 1,000,000) in the EARLIER batch — the
    *     streamed keeper is the twin, so a batch-blind global-min-id
    *     dedup (d1's rule) hash-fails;
    *   - even docs with %11 = 0 get a `" " + text` twin with a SMALLER
    *     id (−doc_id − 1) appended LATER in the SAME batch file — the
    *     deterministic election keeps the twin, so an arrival-order
    *     representative (the old dropDuplicatesWithinWatermark
    *     behavior) hash-fails.
    * All timestamps are one constant (nothing is ever late; the
    * watermark machinery idles), so the oracle replays the pure keeper
    * rule: rn = 1 over (batch ordinal, id) per fingerprint. */
  def d26ExactDedupStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "d26_stream")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    val cols = Seq(col("doc_id"), col("text"), col("n_chars"), t0.as("ts"))
    val id = col("doc_id")
    val b1 = docs.filter(id % 2 === 0).select(cols: _*)
      .unionByName(docs.filter(id % 2 =!= 0 && id % 7 === 0)
        .select((id + 1000000L).as("doc_id"),
          concat(col("text"), lit(" ")).as("text"), col("n_chars"), t0.as("ts")))
      .unionByName(docs.filter(id % 2 === 0 && id % 11 === 0)
        .select((-id - 1L).as("doc_id"),
          concat(lit(" "), col("text")).as("text"), col("n_chars"), t0.as("ts")))
    val b2 = docs.filter(id % 2 =!= 0).select(cols: _*)
    import graft.core.PhaseTimer.timed
    timed("fixtures") { writeOrderedBatches(s, inDir, Seq(b1, b2)) }
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      graft.streaming.EventStream.withStatePartitions(s) {
        graft.streaming.EventStream
          .streamingExactDedup(stream, "ts", "text", "doc_id")
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      }.awaitTermination()
    }
    s.read.parquet(outDir)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** D27 — the streaming corpus-ingest PIPELINE on the hard signal:
    * d26's twinned corpus (cross-batch twins only — the dedup keeper
    * feeds the window counts, so the batch-order signal survives into
    * the aggregate) streams through
    * [[graft.streaming.EventStream.streamingCorpusIngest]] — the full
    * multi-stateful chain: deterministic dedup → 6-dp-rounded quality
    * and repetition gates → per-(window, language) counters. All
    * corpus rows share ONE event-time window; a far-future sentinel
    * batch advances the watermark so the append-mode aggregation
    * closes and emits that window (the sentinel's own window never
    * closes and stays unpublished). The oracle replays keeper rule +
    * both score formulas + the token sum per language: a flipped
    * batch order, a dropped gate branch, a scoring drift, or a
    * dedup-blind count all hash-fail. Thresholds 0.655 / 0.515 sit
    * strictly between observed 6-dp score values at every SF (no
    * boundary row exists to ulp-flip), with both pass and fail
    * branches carrying hundreds of docs. */
  def d27CorpusIngestStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "d27_stream")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val t0 = to_timestamp(lit("2024-03-01 00:00:00"))
    val id = col("doc_id")
    val cols = Seq(id, col("text"), col("lang"), t0.as("ts"))
    val b1 = docs.filter(id % 2 === 0).select(cols: _*)
      .unionByName(docs.filter(id % 2 =!= 0 && id % 7 === 0)
        .select((id + 1000000L).as("doc_id"),
          concat(col("text"), lit(" ")).as("text"), col("lang"), t0.as("ts")))
    val b2 = docs.filter(id % 2 =!= 0).select(cols: _*)
    // TWO fresh-text sentinel batches, days apart — watermark-advancers
    // only, and they must SURVIVE the whole pre-window pipeline:
    //  - fresh text, because a duplicate would be dropped by the dedup
    //    stage and never reach the post-dedup watermark node;
    //  - gate-passing text (50+ distinct words, stopword-led, no
    //    punctuation → quality 1.0, repetition 0.0), because Catalyst
    //    pushes the deterministic quality/repetition Filter BELOW the
    //    re-declared EventTimeWatermark node, so the effective
    //    watermark only tracks rows that pass the gates;
    //  - two of them, because the watermark computed at the END of a
    //    batch only takes effect at the START of the next one, and
    //    AvailableNow stops after the last file with no no-data flush
    //    batch: sentinel #1 advances the watermark past the corpus
    //    window, sentinel #2's batch then opens with that watermark
    //    and emits the window.
    // The dedup state's event-time timeouts force trailing no-data
    // batches, so sentinel #1's own window MAY also flush before the
    // stream stops — the gate pins the corpus window explicitly below,
    // making the emitted-sentinel question irrelevant to the hash.
    // one row from a range, not `docs.limit(1)`: Spark names a limit's
    // row counter from a JVM-wide sequence, so the generated class of
    // a plan holding a limit is new, and compiles again, on every run
    def sentinel(idVal: Long, tag: String, tsLit: String) =
      s.range(1).select(lit(idVal).as("doc_id"),
        lit("the a of and is to in " +
          (1 to 50).map(i => s"sentinel$tag$i").mkString(" ")).as("text"),
        lit("en").as("lang"), to_timestamp(lit(tsLit)).as("ts"))
    val b3 = sentinel(999999999L, "one", "2024-03-05 00:00:00")
    val b4 = sentinel(999999998L, "two", "2024-03-09 00:00:00")
    import graft.core.PhaseTimer.timed
    timed("fixtures") { writeOrderedBatches(s, inDir, Seq(b1, b2, b3, b4)) }
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val out = graft.streaming.EventStream.streamingCorpusIngest(
      stream, "ts", "text", "doc_id", "lang", stopwords,
      minQuality = 0.655, maxRepetition = 0.515)
    val prev = s.conf.get(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    s.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    try timed("stream") {
      graft.streaming.EventStream.withStatePartitions(s) {
        out.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      }.awaitTermination()
    } finally s.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", prev)
    s.read.parquet(outDir)
      .filter(col("win_start") === to_timestamp(lit("2024-03-01 00:00:00")))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), col("lang"), col("n_docs"), col("tok_total"))
      .orderBy("lang")
  }

  /** T34 — the LM-score INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingLmScoreIngest]], CCNet as
    * a stream): the src0-trained bigram LM store is installed once,
    * the corpus streams in two AvailableNow micro-batches, each batch
    * scores under the FROZEN model (hoisted tables, the read-only
    * convention) and docs below the avg_logp threshold drop. The gate
    * hashes the PUBLISHED survivors against DuckDB replaying the t26
    * target-trained chain plus the threshold. Batch order is
    * irrelevant (per-doc pure scoring) — the loop's simplest replay
    * posture, now oracle-checked: a scoring drift, a threshold slip,
    * a dropped batch, or a double publish hash-fails. Threshold −3.6
    * sits at the corpus median, so both branches are live in the
    * hash; the filter compares the 6-dp ROUNDED score on both
    * engines, so the boundary cannot ulp-flip. */
  def t34LmScoreStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "t34_stream")
    val (storeDir, inDir) = (s"$base/lmstore", s"$base/in")
    val (outDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    TextAnalysis.writeBigramLmStore(
      docs.filter(col("source") === "src0"), "text", storeDir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(inDir)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = graft.streaming.EventStream.streamingLmScoreIngest(
        stream, storeDir, outDir, "doc_id", "text",
        minAvgLogProb = -3.6)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    graft.sources.Sources.readPublished(s, outDir)
      .select("id", "n_bigrams", "avg_logp")
      .orderBy("id")
  }

  /** D24 — the per-source boilerplate INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingBoilerplateIngest]]):
    * a landed slice (%31 = 0) installs the boilerplate count store,
    * the rest streams in two ordered micro-batches (evens then odds),
    * and each batch is rewritten against the ACCUMULATED counts —
    * so chrome repeated across batches is caught even when no single
    * batch carries it `minDocs` times, and the SAME gram can be
    * boilerplate for batch 2 but not batch 1 (single-pass semantics:
    * earlier-published docs keep it). The oracle replays exactly
    * that: per-gram distinct-doc counts at each batch's horizon
    * (landed+evens for batch 1, everything for batch 2), coverage and
    * rewrite per doc against its OWN horizon. A retroactivity bug, a
    * dropped count append, or a flipped batch order hash-fails. */
  def d24BoilerplateStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "d24_stream")
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    Dedup.writeBoilerplateStore(docs.filter(col("doc_id") % 31 === 0),
      "doc_id", "text", "source", storeDir, n = 5)
    val corpus = docs.filter(col("doc_id") % 31 =!= 0)
    writeOrderedBatches(s, inDir,
      Seq(corpus.filter(col("doc_id") % 2 === 0),
        corpus.filter(col("doc_id") % 2 =!= 0)))
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = graft.streaming.EventStream.streamingBoilerplateIngest(
        stream, storeDir, keptDir, "doc_id", "text", "source",
        minDocs = 3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    graft.sources.Sources.readPublished(s, keptDir)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .orderBy("doc_id")
  }

  /** T35 — FUZZY decontamination: the %97 slice poses as the eval
    * suite (ids offset into the disjoint eval range; every even
    * source id PERTURBED with an appended token — the paraphrase
    * case whose individual n-grams drift, which the exact-gram
    * rewrite family only partially catches), and every corpus doc
    * near-dupping any eval doc at jaccard ≥ 0.8 is flagged whole.
    * The oracle recomputes the eval construction, the cross-set
    * exact jaccard, and the max-per-doc flag in one WITH-chain — a
    * missed candidate (LSH recall), a verify drift, or a flag slip
    * hash-fails. */
  /** The synthesized eval suite shared by t35/t36: the %97 slice with
    * ids offset into the disjoint eval range and every even source id
    * perturbed by one appended token. */
  private def fuzzyEvalSuite(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" extra")))
          .otherwise(col("text")).as("text"))

  def t35FuzzyDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.fuzzyDecontaminate(docs, fuzzyEvalSuite(docs), "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_id"), col("eval_jaccard"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** T36 — the same flags through the eval suite AT REST (the frozen
    * benchmarks as a near-dup store, the weekly-crawl read path).
    * Shares t35's oracle: store ≡ live IS the gate. */
  def t36FuzzyDecontamStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Gate.scratch(s, "fuzzy_eval_store")
    Dedup.writeNearDupStore(fuzzyEvalSuite(docs), "doc_id", "text", dir)
    Dedup.fuzzyDecontaminateFromStore(docs, dir, "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_id"), col("eval_jaccard"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** One perceptual fixture per modality for mm4–mm10: the carrier
    * column each payload derives from and the encoder from (carrier,
    * twin) to the payload. `twin` plants the copy the modality's
    * fingerprint is contracted to be invariant to — its bytes differ
    * everywhere, so exact binary dedup misses it. Identical texts yield
    * identical payloads and any text change scrambles every pixel or
    * sample, so distinct texts collide on a 64-bit fingerprint with
    * ~2⁻⁶⁰ odds: each fingerprint mirrors text equality, which is what
    * the shared oracles replay. */
  private final case class MediaFixture(modality: Multimodal.Modality,
                                        carrier: DataFrame => DataFrame,
                                        encode: (String, Boolean) => Array[Byte])

  /** The md5 hex carrier of the image and audio fixtures: 128 hex chars
    * per doc, md5-avalanched from the doc TEXT. */
  private def md5HexCarrier(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat((2 to 5).map(i =>
        md5(concat(col("text"), lit(s":$i")))): _*).as("hex"))

  /** Image: a 16×8 grayscale PPM, one md5 block per two raster rows; the
    * twin is +1 brightness on every channel, which dHash's
    * cross-multiplied cell-difference bits are invariant to by
    * construction. */
  private val imageFixture = MediaFixture(Multimodal.Modality.Image,
    md5HexCarrier, { (hex, twin) =>
      val shift = if (twin) 1 else 0
      Ppm.encode(16, 8, hex.getBytes("US-ASCII").flatMap { b =>
        val v = (b + shift).toByte; Array(v, v, v)
      })
    })

  /** Audio: a WAV whose 16-bit samples are md5-avalanched from the text;
    * the twin is a ×2-GAIN remaster — a power-of-two gain scales the
    * whole Goertzel chain EXACTLY in IEEE float, so every band-energy
    * difference sign (the fingerprint bits) provably survives. */
  private val audioFixture = MediaFixture(Multimodal.Modality.Audio,
    md5HexCarrier, { (hex, twin) =>
      val gain = if (twin) 2 else 1
      // samples in ±1728·gain — gain 2 stays far from Short overflow
      Wav.encode(hex.getBytes("US-ASCII")
        .map(c => (((c - 75) << 6) * gain).toShort), 16000)
    })

  /** Video: a 64-frame Y4M stream whose Y planes are md5-avalanched from
    * the text per frame; the twin is +16 BRIGHTNESS on every Y byte —
    * the integer cross-multiplied bin comparisons provably survive a
    * constant shift (the dHash discipline on the time axis). */
  private val videoFixture = MediaFixture(Multimodal.Modality.Video,
    _.select("doc_id", "text"), { (text, twin) =>
      val shift = if (twin) 16 else 0
      val md = java.security.MessageDigest.getInstance("MD5")
      val frames = Array.tabulate(64) { f =>
        md.reset()
        // mask to 0..127 so the +16 twin can never wrap a byte
        md.digest((text + ":" + f).getBytes("UTF-8"))
          .map(b => ((b & 0x7F) + shift).toByte)
      }
      Y4m.encode(16, 1, 25, frames)
    })

  /** (media_id, bytes) rows of a fixture over its (doc_id, carrier)
    * rows, ids shifted by `idOffset`. */
  private def mediaFrame(s: SparkSession, f: MediaFixture, carried: DataFrame,
                         idOffset: Long, twin: Boolean): DataFrame = {
    import s.implicits._
    val encode = f.encode
    carried.as[(Long, String)].map { case (id, c) =>
      (id + idOffset, encode(c, twin))
    }.toDF("media_id", "bytes")
  }

  /** A fixture's carrier rows for the docs below 2000. */
  private def mediaCarried(s: SparkSession, d: String,
                           f: MediaFixture): DataFrame =
    f.carrier(Tables.documents(s, d).filter(col("doc_id") < 2000))

  /** MM4/MM7/MM8 — perceptual dedup of one modality
    * ([[graft.operators.Multimodal.dupGroups]]): every doc < 2000
    * synthesizes its payload, and every %5 == 0 doc also plants its twin,
    * which MUST land in its original's dup group. The oracle replays the
    * group structure from what the fingerprint is CONTRACTED to mirror:
    * text equality (+ the planted-twin arithmetic). A fingerprint that
    * splits a twin pair (invariance bug), merges distinct texts
    * (discrimination bug), or mis-elects the keeper hash-fails. */
  private def mediaDupGroups(s: SparkSession, d: String,
                             f: MediaFixture): DataFrame = {
    val carried = mediaCarried(s, d, f)
    val media = mediaFrame(s, f, carried, 0L, twin = false).unionByName(
      mediaFrame(s, f, carried.filter(col("doc_id") % 5 === 0), 500000000L,
        twin = true))
    Multimodal.dupGroups(media, f.modality).orderBy("media_id")
  }

  /** The at-rest split of mm5/mm6/mm9/mm10: the %31 slice installs the
    * store, and the batch is everything else PLUS twins of stored items
    * (%31 ∧ %10 — their bytes match nothing in the store, their
    * fingerprints do). Returns (store rows, batch rows). */
  private def mediaStoreAndBatch(s: SparkSession, d: String,
                                 f: MediaFixture): (DataFrame, DataFrame) = {
    val carried = mediaCarried(s, d, f)
    val store = mediaFrame(s, f, carried.filter(col("doc_id") % 31 === 0),
      0L, twin = false)
    val batch = mediaFrame(s, f, carried.filter(col("doc_id") % 31 =!= 0),
        0L, twin = false)
      .unionByName(mediaFrame(s, f,
        carried.filter(col("doc_id") % 31 === 0 && col("doc_id") % 10 === 0),
        500000000L, twin = true))
    (store, batch)
  }

  /** T37 — integer-exact link centrality ([[graft.operators.Graph
    * .linkRank]]) over a synthesized closed link graph: the doc-id
    * slice is the node set, each page links to three arithmetic
    * neighbours mod N (contiguous ids ⇒ every edge lands on a real
    * node), and three Jacobi iterations of the all-integer PageRank
    * kernel produce the crawl-quality weights. The oracle UNROLLS all
    * three iterations in SQL (floor division + integer sums replay
    * bit-exactly — that is the kernel's entire design), so a dropped
    * contribution, a degree slip, a wrong damping order, or an
    * iteration miscount shifts ranks and hash-fails. */
  def t37LinkRank(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.documents(s, d).filter(col("doc_id") < 2000)
      .select(col("doc_id").as("id"))
    val m = nodes.count()
    val edges = nodes.select(col("id").as("src"),
      explode(array((col("id") * 7 + 1) % m, (col("id") * 13 + 2) % m,
        (col("id") * 31 + 5) % m)).as("dst"))
    Graph.linkRank(nodes, edges, iterations = 3)
      .select(col("id").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  /** T38 — [[graft.operators.Graph.linkRank]] with DANGLING-MASS
    * redistribution on a graph where it matters: every %5 node has NO
    * outgoing edges (a real crawl's no-outlink pages), so without
    * redistribution a fifth of the total rank mass would evaporate
    * every iteration. The oracle unrolls all three Jacobi steps WITH
    * the per-iteration dangling sum and its floor-divided uniform
    * share — a dropped dangling term, a wrong divisor, or mass
    * leaking from the wrong node set shifts every rank and
    * hash-fails. */
  def t38LinkRankDangling(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.documents(s, d).filter(col("doc_id") < 2000)
      .select(col("doc_id").as("id"))
    val m = nodes.count()
    val edges = nodes.filter(col("id") % 5 =!= 0)
      .select(col("id").as("src"),
        explode(array((col("id") * 7 + 1) % m, (col("id") * 13 + 2) % m,
          (col("id") * 31 + 5) % m)).as("dst"))
    Graph.linkRank(nodes, edges, iterations = 3,
        redistributeDangling = true)
      .select(col("id").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  /** Rank-weighted selection composite — the C4-era curation shape:
    * link centrality (t37's integer kernel over the same closed
    * graph) joined onto a content-quality gate (t30's char-entropy
    * cut), top-100 by (pr, id) via distributed TakeOrdered — never a
    * corpus-wide window. The oracle chains BOTH replays (3 unrolled
    * Jacobi iterations + the per-char entropy recount) into one
    * ranked LIMIT, so a rank drift in either signal reorders the kept
    * set and hash-fails. */
  def llmRankSelect(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 2000)
    val nodes = docs.select(col("doc_id").as("id"))
    val m = nodes.count()
    val edges = nodes.select(col("id").as("src"),
      explode(array((col("id") * 7 + 1) % m, (col("id") * 13 + 2) % m,
        (col("id") * 31 + 5) % m)).as("dst"))
    val pr = Graph.linkRank(nodes, edges, iterations = 3)
      .withColumnRenamed("id", "doc_id")
    TextAnalysis.charEntropyScore(docs, "doc_id", "text",
        minEntropy = 2.85)
      .filter(col("keep") === 1)
      .join(pr, "doc_id")
      .orderBy(desc("pr"), col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("pr"), col("char_entropy"))
      .orderBy(desc("pr"), col("doc_id"))
  }

  /** Rank-WEIGHTED draw composite — the other half of the C4-era
    * curation shape ([[llmRankSelect]] SORTS by centrality; this one
    * lets centrality DRIVE a weighted sample): t37's integer PageRank
    * feeds [[graft.ops.Sampling.weightedSample]] as the weight
    * column, so a 10×-rank page is ~10× as likely to survive the cut
    * while low-rank pages still get in — the Efraimidis–Spirakis draw
    * on the md5 noise source. The oracle chains the unrolled Jacobi
    * replay into the exact priority formula (strpos hex arithmetic
    * for the 24-bit uniform, ln, 6-dp round, top-200 by (priority,
    * id)); a rank drift, a hash slip, or a weight-blind draw reorders
    * the kept set and hash-fails. */
  def llmRankWeightedMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 2000)
    val nodes = docs.select(col("doc_id").as("id"))
    val m = nodes.count()
    val edges = nodes.select(col("id").as("src"),
      explode(array((col("id") * 7 + 1) % m, (col("id") * 13 + 2) % m,
        (col("id") * 31 + 5) % m)).as("dst"))
    val pr = Graph.linkRank(nodes, edges, iterations = 3)
      .withColumnRenamed("id", "doc_id")
    graft.ops.Sampling.weightedSample(
        docs.select("doc_id", "lang").join(pr, "doc_id"),
        "doc_id", "pr", n = 200, weightScale = 1e12)
      .select(col("doc_id"), col("lang"), col("pr"),
        col("_prio").as("priority"))
      .orderBy("doc_id")
  }

  /** MM5 — image dedup against the AT-REST dHash store (the weekly-
    * crawl read path): the %31 slice's images install the Bloom-
    * fronted store, the batch is everything else PLUS brightness-
    * shifted twins of stored images, and every batch image reports
    * `kept` per the keeper rule (first carrier of a dHash the store
    * has never seen). The oracle replays the rule on what the hash is
    * contracted to mirror — text equality: min-id per text among the
    * batch, texts present in the store slice excluded. A Bloom false
    * negative, a store-probe miss, a twin surviving (invariance bug),
    * or a wrong within-batch election hash-fails. */
  def mm5ImageDedupStore(s: SparkSession, d: String): DataFrame = {
    val (storeImgs, batch) = mediaStoreAndBatch(s, d, imageFixture)
    val dir = Gate.scratch(s, "mm5_imgstore")
    val image = Multimodal.Modality.Image
    Multimodal.writeFingerprintStore(storeImgs, image, dir,
      expectedTotal = 100000L)
    val keepers = Multimodal.dedupFromStore(batch, image, dir)
      .select(col("id").as("media_id"), lit(1).as("kept"))
    batch.select("media_id")
      .join(keepers, Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("kept"), lit(0)).as("kept"))
      .orderBy("media_id")
  }

  /** MM6/MM9/MM10 — the perceptual-dedup INGEST loop of one modality on
    * the hard signal ([[graft.streaming.EventStream
    * .streamingPerceptualDedupIngest]] — d23's loop with the modality's
    * fingerprint): the %31 slice installs the store, the mm5-shaped
    * batch (twins included) streams as two AvailableNow micro-batches
    * split by id parity, and the PUBLISHED kept table is hashed against
    * DuckDB replaying the full cross-batch keeper rule — rn = 1 over
    * (batch index, media_id) per text, store slice excluded. A dropped
    * store append (batch-2 copy of a batch-1 item re-admitted), a
    * flipped batch order, a double publish, or a surviving twin
    * hash-fails. */
  private def mediaDedupStream(s: SparkSession, d: String, f: MediaFixture,
                               name: String): DataFrame = {
    val base = Gate.scratch(s, name)
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    val (store, batch) = mediaStoreAndBatch(s, d, f)
    import graft.core.PhaseTimer.timed
    timed("install") {
      Multimodal.writeFingerprintStore(store, f.modality, storeDir,
        expectedTotal = 100000L)
    }
    timed("fixtures") {
      writeOrderedBatches(s, inDir,
        Seq(batch.filter(col("media_id") % 2 === 0),
          batch.filter(col("media_id") % 2 =!= 0)))
    }
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingPerceptualDedupIngest(
          stream, f.modality, storeDir, keptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    graft.sources.Sources.readPublished(s, keptDir)
      .select("media_id")
      .orderBy("media_id")
  }

  /** LLM-RAG retrieval composite — the serving half of the chunk →
    * embed → index → retrieve pipeline every RAG stack runs: documents
    * are sliding-window chunked (32/24, t11's operator), each chunk
    * embedded (the ann11 integer-grid convention — SQL-replayable, so
    * the whole composite stays on the hard signal), the chunk vectors
    * landed as an at-rest IVF index, and 10 query vectors retrieve
    * top-3 chunks with doc/chunk provenance joined back. nProbe =
    * nCells makes the index path EXACT (the ann14 replayability
    * convention) — the oracle recomputes chunking, embedding, cosine
    * and rank from scratch, so a chunker drift, a dropped index row, a
    * mis-assigned cell, or a rank tie-break slip all hash-fail. At
    * scale: chunking/embedding are map-side, the index is the ann7
    * cell-pruned store, and provenance joins on skinny chunk keys. */
  def llmRagPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 1500)
      .select("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 32, 24)
      .withColumnRenamed("id", "doc_id")
      .withColumn("chunk_key", col("doc_id") * 100000L + col("chunk_id"))
    val embedded = chunks.select(col("chunk_key").as("vec_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(col("n_tokens") * 31 + col("chunk_key") * 17 + i * 7, lit(97))
          .cast("float")).as("embedding"))
    val dir = Gate.scratch(s, "rag_chunk_index")
    val centroids = Similarity.writeIvfIndex(embedded, dir, nCells = 8)
    // query ids live in their own range: scoreProbed's q_id != n_id
    // self-pair guard must never collide with a chunk key
    val queries = s.range(0, 10).select((col("id") + 900000000L).as("vec_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(col("id") * 13 + i * 5 + 3, lit(97)).cast("float"))
        .as("embedding"))
    Similarity.ivfTopKFromIndex(dir, centroids, queries, k = 3, nProbe = 8)
      .join(chunks.select(col("chunk_key").as("n_id"), col("doc_id"),
        col("chunk_id"), col("n_tokens")), "n_id")
      .select((col("q_id") - 900000000L).as("query_id"), col("rank"),
        col("doc_id"), col("chunk_id"), col("n_tokens"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** LLM decontamination REPORT composite — the per-doc verdict table
    * a production pipeline feeds to policy: BOTH contamination
    * channels against ONE eval suite (t35's synthesized suite), in one
    * output. The exact channel ([[Dedup.contaminationPairs]], ≥ 2
    * shared 3-grams — t10's rule) catches verbatim leakage and routes
    * to `rewrite` (span-level removal keeps the doc); the fuzzy
    * channel ([[Dedup.fuzzyDecontaminate]], whole-doc jaccard ≥ 0.8)
    * catches paraphrased eval material where span rewrites can't be
    * trusted and routes to `drop`. fuzzy ⊐ exact on its hits (a 0.8
    * near-dup shares grams), so status is drop > rewrite > clean. The
    * oracle replays suite construction, BOTH channels, and the policy
    * CASE in one WITH-chain — either channel drifting, or the
    * precedence flipping, hash-fails. */
  def llmDecontamReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val suite = fuzzyEvalSuite(docs)
    val exact = Dedup.contaminationPairs(docs, suite, "doc_id", "text", 3)
      .filter(col("shared") >= 2)
      .groupBy(col("id").as("doc_id"))
      .agg(max("shared").as("max_shared"),
        count(lit(1)).as("n_eval_hits"))
    Dedup.fuzzyDecontaminate(docs, suite, "doc_id", "text")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("eval_jaccard"),
        when(col("contaminated") === 1, "drop")
          .when(coalesce(col("max_shared"), lit(0L)) >= 2, "rewrite")
          .otherwise("clean").as("status"))
      .orderBy("doc_id")
  }

  /** D25 — the near-dup INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingNearDupIngest]]): a
    * landed slice (%31 = 0) installs the near-dup store, the rest
    * streams as two ORDERED micro-batches (evens then odds). Per
    * batch the loop drops docs that near-dup the ACCUMULATED store
    * (landed ∪ earlier survivors) plus the within-batch larger side
    * of each pair, then appends the survivors' shingles. The oracle
    * replays the full sequential semantics from ONE exact jaccard
    * pair set: batch-1 drops against landed only, batch-2 against
    * landed ∪ batch-1 SURVIVORS — so a store append that leaks
    * non-survivors, a missed cross-batch pair, a flipped batch
    * order, or a within-batch keeper drift all hash-fail. The
    * within-batch drop is unconditional on the smaller side's own
    * fate (the loop's dropIds union), replayed as-is. */
  def d25NearDupStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = Gate.scratch(s, "d25_stream")
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Dedup.writeNearDupStore(docs.filter(col("doc_id") % 31 === 0),
        "doc_id", "text", storeDir)
    }
    val corpus = docs.filter(col("doc_id") % 31 =!= 0)
    timed("fixtures") {
      writeOrderedBatches(s, inDir,
        Seq(corpus.filter(col("doc_id") % 2 === 0),
          corpus.filter(col("doc_id") % 2 =!= 0)))
    }
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingNearDupIngest(
          stream, storeDir, keptDir, "doc_id", "text", threshold = 0.8)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    graft.sources.Sources.readPublished(s, keptDir)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** ANN15 — the IVF INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingIvfIngest]]): the %5 ≠ 0
    * slice installs the index (fitting the quantizer), the %5 = 0
    * sliver streams in two micro-batches, each assigned to its
    * nearest EXISTING centroid and landed batch-keyed. The gate
    * hashes [[Similarity.liveIndexRows]] — which must now serve the
    * WHOLE corpus — against DuckDB recomputing the integer-grid
    * embedding of every doc (the ann11 convention). A dropped batch,
    * a double append, or a vector mutated in flight hash-fails; the
    * centroid ASSIGNMENT is probe-path state checked by ann3/ann5. */
  def ann15IvfStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    def embed(df: DataFrame): DataFrame = df.select(col("doc_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(length(col("text")) * 31 + col("doc_id") * 17 + i * 7,
          lit(97)).cast("float")).as("embedding"))
    val base = Gate.scratch(s, "ann15_stream")
    val (idxDir, inDir, ckpt) = (s"$base/index", s"$base/in", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Similarity.writeIvfIndex(
        embed(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)),
        idxDir, nCells = 8, idCol = "doc_id")
    }
    val sliver = embed(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    timed("fixtures") {
      sliver.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
        .write.mode("append").parquet(inDir)
      sliver.filter(pmod(col("doc_id"), lit(2)) =!= 0).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val stream = s.readStream.schema(sliver.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingIvfIngest(
          stream, idxDir, idCol = "doc_id")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    Similarity.liveIndexRows(s, idxDir)
      .select(col("n_id").as("doc_id"),
        aggregate(col("n_vec"), lit(0.0d), (a, x) => a + x).as("vec_l1"),
        element_at(col("n_vec"), 1).cast("double").as("v0"))
      .orderBy("doc_id")
  }

  /** ANN19's deterministic codebook grid: centroid value
    * f(j, c, t) = (j·13 + c·7 + t·3) mod 17 — small integers, so the
    * engine's float/double distance arithmetic is EXACT and the oracle
    * replays every argmin bit-for-bit. The gate installs it; its
    * oracle SQL ([[ann19PqSql]], with the gates below) recomputes it. */
  def pqGrid(j: Int, c: Int, t: Int): Int = (j * 13 + c * 7 + t * 3) % 17

  /** ANN19 — the PQ INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingPqIngest]]), closing the
    * one formerly spec-only streaming loop: the index is installed
    * with the INTEGER-GRID codebooks ([[pqGrid]], via
    * [[Similarity.installPqIndex]] — the offline-trained-codebooks
    * path), the %5 = 0 sliver streams in two micro-batches encoded
    * against the STORED codebooks, and the gate hashes the full landed
    * codes table — (doc_id, per-subspace codes, recon_norm) — against
    * DuckDB recomputing the integer-grid embedding, every subspace
    * argmin (first-minimum tie-break, the PqAssign rule), and the
    * reconstruction norm. A dropped batch, a double append, a drifted
    * codebook read, or an argmin tie broken the other way hash-fails. */
  def ann19PqStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    def embed(df: DataFrame): DataFrame = df.select(col("doc_id"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(length(col("text")) * 31 + col("doc_id") * 17 + i * 7,
          lit(97)).cast("float")).as("embedding"))
    val grid = Array.tabulate(2, 4, 4)((j, c, t) => pqGrid(j, c, t).toFloat)
    val norm2 = grid.map(_.map(_.foldLeft(0.0)((a, x) =>
      a + x.toDouble * x.toDouble)))
    val cb = Similarity.PqCodebooks(2, 4, 4, grid, norm2)
    val base = Gate.scratch(s, "ann19_stream")
    val (idxDir, inDir, ckpt) = (s"$base/index", s"$base/in", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Similarity.installPqIndex(
        embed(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)),
        idxDir, cb, idCol = "doc_id")
    }
    val sliver = embed(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    timed("fixtures") {
      sliver.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
        .write.mode("append").parquet(inDir)
      sliver.filter(pmod(col("doc_id"), lit(2)) =!= 0).coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val stream = s.readStream.schema(sliver.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingPqIngest(
          stream, idxDir, idCol = "doc_id")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    s.read.parquet(s"$idxDir/codes")
      .select(col("n_id").as("doc_id"),
        element_at(col("code"), 1).as("c0"),
        element_at(col("code"), 2).as("c1"),
        col("recon_norm"))
      .orderBy("doc_id")
  }

  /** ANN14 — hard negatives through the GENERATOR-AGNOSTIC scale path
    * ([[Similarity.hardNegativesFromCandidates]]), driver-gated with an
    * oracle-replayable candidate set: an exact top-20 over-fetch (4×k,
    * the documented depth rule — same-label candidates fall out at the
    * label join). The composition under test — candidates → label join
    * → cross-label filter → re-rank top-k — is exactly what an IVF/PQ
    * feed runs at 100 TB; the exact miner stays gated as ann12. A
    * dropped candidate, a same-label leak, or a re-rank drift
    * hash-fails. */
  def ann14HardNegativesAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cands = Similarity.bruteForceTopK(e,
      e.filter(col("vec_id") % 37 === 0), k = 20)
    Similarity.hardNegativesFromCandidates(cands,
        e.select("vec_id", "label"), k = 5,
        idCol = "vec_id", labelCol = "label")
      .orderBy("q_id", "rank")
  }

  /** R14 — length-bucketed batch assignment (batchSize 20). All-
    * integer contract (bit-length bucket, bucket-ceiling pad, rank
    * div batchSize), so the oracle replays every column exactly; the
    * within-bucket rank rides the distributed range rank and the
    * plain-window oracle must agree rank for rank. */
  def r14LengthBuckets(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.lengthBucketBatches(Tables.documents(s, d),
        "doc_id", "text", batchSize = 20)
      .orderBy("doc_id")

  /** The web-ingest composite on ONE hash: synthesized crawl records
    * → HTML text extraction (t33's chain, pass-through columns carry
    * url/ts THROUGH the extractor — no join-back) → canonical-URL
    * latest-crawl dedup (d22's chain) → char-entropy quality cut on
    * the EXTRACTED text (t30's kernel). The oracle replays all three
    * stages in one WITH-chain, so an extraction drift, a lost
    * re-crawl, or an entropy shift anywhere moves the hash. */
  def llmWebPipeline(s: SparkSession, d: String): DataFrame = {
    val pages = Tables.documents(s, d).select(col("doc_id"),
      syntheticHtml.as("h"), syntheticUrl.as("url"),
      (col("doc_id") % 97).as("fetch_ts"))
    val extracted = TextAnalysis.htmlToText(pages, "doc_id", "h")
    val latest = Dedup.latestPerUrl(extracted, "url", "fetch_ts", "doc_id")
    val ent = graft.plans.GraftFunctions.charEntropy(s, col("text"))
    latest.select(col("doc_id"), col("canon_url"), col("n_crawls"),
        round(ent, 6).as("char_entropy"))
      .withColumn("keep", (col("char_entropy") >= 2.85).cast("int"))
      .orderBy("doc_id")
  }

  /** ANN16 — metadata-filtered vector search: top-5 per query among
    * ONLY the vectors whose id belongs to an English document (the
    * cross-table predicate every production retrieval system carries).
    * `nProbe = nCells` is the llm_rag exactness convention — every cell
    * probed ⇒ the IVF path is bit-equal to brute force over the
    * filtered corpus, so the oracle recomputes full values, not just
    * invariants. The pre-filter (cell-side semi-join) vs post-filter
    * distinction is the point: k stays FILLED from survivors even
    * though lang='en' keeps only ~a fifth of the corpus. */
  def ann16FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val allowed = Tables.documents(s, d)
      .filter(col("lang") === "en").select("doc_id")
    Similarity.ivfTopKFiltered(e, e.filter(col("vec_id") < 5), k = 5,
        allowed, "doc_id", nCells = 8, nProbe = 8)
      .orderBy("q_id", "rank")
  }

  /** ANN17 — distributed k-NN join: EVERY vector (capped fixture:
    * vec_id < 120) finds its 3 nearest neighbors — the neighbor-graph
    * builder under SemDeDup/D4 curation. The query side is corpus-sized
    * so nothing broadcasts except the nCells-row centroid table; the
    * probe→cell join is a plain shuffle hash join on the cell id.
    * `nProbe = nCells` ⇒ exact all-pairs (the oracle convention);
    * recall at nProbe < nCells is SimilaritySpec's job. */
  def ann17KnnJoin(s: SparkSession, d: String): DataFrame =
    Similarity.knnJoin(Tables.embeddings(s, d).filter(col("vec_id") < 120),
        k = 3, nCells = 4, nProbe = 4)
      .orderBy("q_id", "rank")

  /** M17 — retrieval evaluation metrics over the exact top-5 (ann1's
    * replayable generator) with SAME-LABEL relevance (label(n) =
    * label(q), n ≠ q — the standard class-based qrels construction):
    * recall@5, MRR, nDCG@5 per query, every number recomputed by the
    * oracle from the same candidate grid. */
  def m17RetrievalMetrics(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 20)
    val results = Similarity.bruteForceTopK(e, q, 5)
    val qrels = q.select(col("vec_id").as("q_id"), col("label").as("ql"))
      .join(e.select(col("vec_id").as("n_id"), col("label")),
        col("label") === col("ql") && col("n_id") =!= col("q_id"))
      .select("q_id", "n_id")
    graft.metrics.Classification.retrievalMetrics(results, qrels, k = 5)
      .orderBy("q_id")
  }

  /** T44 — T5-style span corruption: the denoising-objective twin of
    * t40's FIM. All noise from the id's md5 (u24 convention), so the
    * oracle replays segment bounds, span offsets, sentinel placement,
    * and both output texts exactly; short segments pass through
    * (n_spans < 3 happens naturally on short docs at every SF). */
  def t44SpanCorrupt(s: SparkSession, d: String): DataFrame =
    TextAnalysis.spanCorrupt(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** ANN18 — seed-medoid cell assignment: every vector to its
    * most-similar seed (vec_id < 8), ties to the smaller seed id.
    * Unlike the k-means cells (JVM state, invariant-gated), medoid
    * assignment is pure arithmetic — the oracle recomputes every
    * (vec_id, cell, cell_sim) row. */
  def ann18MedoidAssign(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.medoidAssign(e, e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding")))
      .orderBy("vec_id")
  }

  /** LLM composite — cluster-balanced ("diversity") selection: medoid
    * cells in embedding space, then the md5-noise quota draw per CELL
    * (r4's draw keyed on geometry instead of metadata) — so an
    * over-represented content region is capped the way an
    * over-represented domain is, the embedding-space twin of domain
    * quotas. Fully value-compared: assignment and draw both replay. */
  def llmDiversitySample(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val assigned = Similarity.medoidAssign(e, e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding")))
    graft.ops.Sampling.quotaSample(assigned, "cell", "vec_id", quota = 12)
      .orderBy("vec_id")
  }

  /** Deterministic SFT-conversation fixture over the documents table:
    * conv_id = doc_id mod `mod`, turn order = doc_id, role alternating
    * by within-conversation rank, turn text = the doc's first `cut`
    * chars — every column replayable in SQL, so the render gates are
    * full-value oracles. The rank window partitions by conversation
    * (bounded groups); fixture-side only — the OPERATOR takes turn
    * order as given. */
  private def sftTurns(s: SparkSession, d: String, mod: Int, cut: Int,
                       maxOrd: Long = 0L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("ord")
    val docs = Tables.documents(s, d)
    val capped = if (maxOrd > 0) docs.filter(col("doc_id") < maxOrd) else docs
    capped.select(
        (col("doc_id") % mod).as("conv_id"), col("doc_id").as("ord"),
        substring(col("text"), 1, cut).as("t"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("conv_id")))
      .withColumn("role",
        when(col("rn") % 2 === 1, "user").otherwise("assistant"))
  }

  /** T43 — chat-template render with loss-mask offsets: conversations
    * rendered to flat training text, the final turn's span emitted as
    * (resp_start, resp_len) character offsets and the prompt
    * fingerprinted for dedup. Single-turn conversations (present at
    * every SF under mod=40) exercise the empty-prompt edge:
    * resp_start = 0, prompt_fp = md5(''). Full value compare —
    * template, offsets, and fingerprint all recomputed by the oracle. */
  def t43ChatRender(s: SparkSession, d: String): DataFrame =
    Instruction.renderChat(sftTurns(s, d, mod = 40, cut = 120),
        "conv_id", "ord", "role", "t")
      .orderBy("conv_id")

  /** LLM composite — the SFT data path: render → prompt-dedup → pack.
    * The fixture plants REAL prompt duplicates: for each conversation
    * c < 10, a twin at conv_id c+1000 repeats c's turns minus the last
    * and appends a DIFFERENT final response (ord above every doc_id),
    * so twin.prompt ≡ base.prompt while the rendered texts differ —
    * exactly the same-question-different-answer collision prompt-dedup
    * exists for. The min-conv keeper must elect every base conv and
    * drop every twin; survivors pack shard-locally (t8's budget
    * arithmetic) with prompt_fp/resp_start carried through. One hash
    * over the whole chain. */
  /** Base + prompt-twin conversations (see [[llmSftPipeline]]): for
    * each conv c < 10, conv c+1000 repeats c's turns minus the last
    * and appends a different final response — twin.prompt ≡
    * base.prompt, rendered texts differ. */
  private def sftTwinTurns(s: SparkSession, d: String): DataFrame = {
    val base = sftTurns(s, d, mod = 20, cut = 100, maxOrd = 400L)
    val baseTurns = base.select("conv_id", "ord", "role", "t")
    val twinTurns = base.filter(col("conv_id") < 10 && col("rn") < col("n"))
      .select((col("conv_id") + 1000).as("conv_id"),
        col("ord"), col("role"), col("t"))
    val synth = base.filter(col("conv_id") < 10)
      .select("conv_id").distinct()
      .select((col("conv_id") + 1000).as("conv_id"),
        lit(100000000L).as("ord"), lit("assistant").as("role"),
        concat(lit("ALT "), col("conv_id").cast("string")).as("t"))
    baseTurns.unionByName(twinTurns).unionByName(synth)
  }

  def llmSftPipeline(s: SparkSession, d: String): DataFrame = {
    val rendered = Instruction.renderChat(sftTwinTurns(s, d),
      "conv_id", "ord", "role", "t")
    val deduped = Instruction.dedupByPrompt(rendered)
    TextAnalysis.packSequences(deduped, "conv_id", "text",
        budget = 256, shards = 4, carry = Seq("prompt_fp", "resp_start"))
      .orderBy("id")
  }

  /** T45 — the SFT stream: prompt-level dedup as a REAL stream through
    * [[graft.streaming.EventStream.streamingDedupByKey]] keyed on
    * `prompt_fp` (the generalized d26 election). Batch 1 lands the 20
    * base conversations; batch 2 carries (a) the prompt-twins of convs
    * 0–9 — cross-batch duplicates the landed state must drop — and
    * (b) fresh-prompt 'v2' renders of convs 10–14, each TWICE under
    * conv ids +3000 and +4000 — in-batch duplicates the min-id
    * election must resolve to the +3000 copy. The oracle replays
    * render → fingerprint → the (batch, min-conv) keeper rule; an
    * arrival-order or global-min-id implementation hash-fails. */
  def t45SftDedupStream(s: SparkSession, d: String): DataFrame = {
    val baseDir = Gate.scratch(s, "t45_stream")
    val (inDir, outDir, ckpt) = (s"$baseDir/in", s"$baseDir/out", s"$baseDir/ckpt")
    val turns = sftTwinTurns(s, d)
    val rendered = Instruction.renderChat(turns, "conv_id", "ord", "role", "t")
    val v2 = Instruction.renderChat(
      turns.filter(col("conv_id").between(10, 14))
        .withColumn("t", concat(lit("v2 "), col("t"))),
      "conv_id", "ord", "role", "t")
    val t0c = to_timestamp(lit("2024-03-01 00:00:00"))
    def sel(df: DataFrame, off: Long): DataFrame = df.select(
      (col("conv_id") + off).as("conv_id"), col("prompt_fp"),
      col("resp_len"), t0c.as("ts"))
    val b1 = sel(rendered.filter(col("conv_id") < 1000), 0L)
    val b2 = sel(rendered.filter(col("conv_id") >= 1000), 0L)
      .unionByName(sel(v2, 3000L)).unionByName(sel(v2, 4000L))
    writeOrderedBatches(s, inDir, Seq(b1, b2))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    graft.streaming.EventStream.withStatePartitions(s) {
      graft.streaming.EventStream
        .streamingDedupByKey(stream, "ts", col("prompt_fp"), "conv_id")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }.awaitTermination()
    s.read.parquet(outDir)
      .select("conv_id", "prompt_fp", "resp_len")
      .orderBy("conv_id")
  }

  /** Shared retrieval query set: 7 ids present in BOTH documents and
    * embeddings at every SF. */
  private def retrievalQueries(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 83 === 0 && col("doc_id") < 500)
      .select(col("doc_id").as("q_id"),
        substring(col("text"), 1, 60).as("q_text"))

  /** T46 — BM25 lexical retrieval: queries are each query doc's first
    * 60 chars, the formula (idf, length norm, df-based stopword
    * pruning) recomputed end to end by the oracle. */
  def t46Bm25TopK(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(s, d),
        retrievalQueries(s, d), k = 5, maxDfRatio = 1.0)
      .orderBy("q_id", "rank")

  /** T47 — t46's answers served from the at-rest index: write the
    * bucket-partitioned postings, then probe; store ≡ live on the
    * SAME oracle (the d14/ann4 convention). The probe's postings scan
    * is partition-pruned to the query terms' buckets —
    * TextAnalysisSpec asserts the partition filter. */
  def t47Bm25Store(s: SparkSession, d: String): DataFrame = {
    val dir = Gate.scratch(s, "t47_bm25")
    TextAnalysis.writeBm25Index(Tables.documents(s, d), dir, buckets = 16)
    TextAnalysis.bm25TopKFromIndex(dir, retrievalQueries(s, d), k = 5,
        maxDfRatio = 1.0)
      .orderBy("q_id", "rank")
  }

  /** T48 — t46's answers with the corpus landed in TWO installments
    * (write ⅔, append ⅓): the append updates the corpus stats as
    * exact-long arithmetic, so post-append scores are bit-identical
    * to a fresh rebuild — same oracle as t46/t47 (the d14
    * convention). */
  def t48Bm25Append(s: SparkSession, d: String): DataFrame = {
    val dir = Gate.scratch(s, "t48_bm25")
    val docs = Tables.documents(s, d)
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 3 =!= 0),
      dir, buckets = 16)
    TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 3 === 0),
      dir, batchId = 1L)
    TextAnalysis.bm25TopKFromIndex(dir, retrievalQueries(s, d), k = 5,
        maxDfRatio = 1.0)
      .orderBy("q_id", "rank")
  }

  /** T49's corpus: a realistic-VOCABULARY fixture built from the
    * documents id space (the t14 token-prefix convention), because the
    * synthetic tables' ~31-word vocabulary puts every term in ~80% of
    * docs — any df cap would empty the run. Here each doc carries
    * ubiquitous stopwords (`the` ×2, `of` — df = N, PRUNED at 0.5), a
    * mid-frequency subject `w<id%211>` (tf 2, df ≈ N/211), a rare
    * `x<id%997>`, and a third of the docs a 3-token filler tail
    * (df = N/3 — kept, and the dl spread the length norm needs). */
  private def prunedVocabCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(lit("the of the w"), (col("doc_id") % 211).cast("string"),
        lit(" w"), (col("doc_id") % 211).cast("string"),
        lit(" x"), (col("doc_id") % 997).cast("string"),
        when(col("doc_id") % 3 === 0, lit(" longtail filler pad"))
          .otherwise(lit(""))).as("text"))

  /** T49 — BM25 with the df-based stopword prune LIVE (maxDfRatio =
    * 0.5, the default — t46/t47/t48 must run it disabled, see
    * t46Bm25TopK): on the realistic-vocabulary fixture the `the`/`of`
    * postings (df = N, the corpus-length hot lists that motivate the
    * prune) are dropped from scoring entirely, and the oracle replays
    * the PRUNED formula — an engine that scored the stopwords (or
    * mis-applied the cap) hash-fails, because their idf is tiny but
    * nonzero. Queries mix a pruned term with scoring terms, so the
    * prune changes every score, not just the candidate set. */
  def t49Bm25Pruned(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25TopK(prunedVocabCorpus(s, d),
        prunedVocabQueries(s, d), k = 5, maxDfRatio = 0.5)
      .orderBy("q_id", "rank")

  /** T49/t51's shared query set: each query mixes a PRUNED stopword
    * with the doc's mid-frequency subject and rare term, so the df cap
    * changes every score, not just the candidate set. */
  private def prunedVocabQueries(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 83 === 0 && col("doc_id") < 500)
      .select(col("doc_id").as("q_id"),
        concat(lit("the w"), (col("doc_id") % 211).cast("string"),
          lit(" x"), (col("doc_id") % 997).cast("string")).as("q_text"))

  /** T51 — the BM25 maintenance story oracle-gated end to end (the
    * rebuild leg the r17 matrix left as "documented"): the
    * realistic-vocabulary corpus lands in THREE installments (install
    * + two appends — the long suite-publication line whose per-batch
    * `_stats` entries motivate the documented rebuild), then
    * `writeBm25Index` over the FULL corpus reinstalls in place —
    * `clearForReinstall` hygiene is load-bearing here: one stale
    * postings generation or stats entry surviving would double df and
    * nDocs/sumDl, shifting every idf — and the df-PRUNED probe
    * (maxDfRatio = 0.5, t49's live semantics) serves from the rebuilt
    * index. Oracle = t49's end-to-end BM25 replay: rebuilt-store path
    * ≡ live path, bit for bit, with the prune applied. The gate also
    * `require`s the post-rebuild layout is singular (exactly one
    * generation, one stats entry) so a hygiene regression fails
    * loudly even before the hash does. */
  def t51Bm25Rebuilt(s: SparkSession, d: String): DataFrame = {
    val dir = Gate.scratch(s, "t51_bm25")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val corpus = prunedVocabCorpus(s, d)
    import graft.core.PhaseTimer.timed
    timed("install") {
      TextAnalysis.writeBm25Index(corpus.filter(col("doc_id") % 3 === 1),
        dir, buckets = 16)
    }
    timed("append") {
      TextAnalysis.appendToBm25Index(corpus.filter(col("doc_id") % 3 === 2),
        dir, batchId = 1L)
      TextAnalysis.appendToBm25Index(corpus.filter(col("doc_id") % 3 === 0),
        dir, batchId = 2L)
    }
    // the REBUILD: full-corpus reinstall over the grown store
    timed("rebuild") { TextAnalysis.writeBm25Index(corpus, dir, buckets = 16) }
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    val stats = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_stats"))
      .map(_.getPath.getName).filter(_.matches("batch_\\d+\\.json")).toSeq
    require(gens == Seq("batch=0") && stats == Seq("batch_0.json"),
      s"rebuild must leave a singular layout, got $gens / $stats")
    TextAnalysis.bm25TopKFromIndex(dir, prunedVocabQueries(s, d), k = 5,
        maxDfRatio = 0.5)
      .orderBy("q_id", "rank")
  }

  /** LLM composite — hybrid retrieval: the BM25 run (t46, top-20) and
    * the exact vector run (ann1's generator, top-20) fused by
    * reciprocal-rank fusion — pure rank arithmetic, so the fused
    * ordering replays exactly; a drift in EITHER run (a pruned term, a
    * wrong idf, a cosine flip) moves the fused hash. */
  def llmHybridRetrieval(s: SparkSession, d: String): DataFrame = {
    val q = retrievalQueries(s, d)
    // maxDfRatio = 1.0: the synthetic corpus has a ~31-word vocabulary
    // (every term in ~80% of docs), so the default df pruning would
    // empty the run — discrimination here comes from tf and dl; the
    // pruning path is spec-pinned on a hand fixture instead
    val lex = TextAnalysis.bm25TopK(Tables.documents(s, d), q, k = 20,
      maxDfRatio = 1.0)
    val e = Tables.embeddings(s, d)
    val vec = Similarity.bruteForceTopK(e,
      e.filter(col("vec_id") % 83 === 0 && col("vec_id") < 500), 20)
    Similarity.rrfFuse(lex, vec, k = 5).orderBy("q_id", "rank")
  }

  /** LLM composite — conversations assembled from EVENT LOGS: the
    * s_sessionize chain (30-min-gap sessions over real timestamps)
    * turns each (user, session) into a conversation, events become
    * turns ordered by event_id (the deterministic key — ts ties would
    * be arrival-order), and the render emits the same loss-mask
    * contract as t43. The chat surface composed with a second real
    * table and a window-chain fixture — sessionization drift, a lost
    * turn, or an offset error all move the hash. */
  def llmChatFromLogs(s: SparkSession, d: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byUser = W.partitionBy("user_id").orderBy("ts")
    val ev = Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess", when(col("prev_ts").isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
        .otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(W.unboundedPreceding, W.currentRow)))
    val turns = ev.select(
        (col("user_id") * 100000L + col("sess_id")).as("conv_id"),
        col("event_id").as("ord"), col("event_type"))
      .withColumn("rn", row_number().over(
        W.partitionBy("conv_id").orderBy("ord")))
      .withColumn("role", when(col("rn") % 2 === 1, "user")
        .otherwise("assistant"))
      .withColumn("t", concat(col("event_type"), lit("#"),
        pmod(col("ord"), lit(100L)).cast("string")))
    Instruction.renderChat(turns, "conv_id", "ord", "role", "t")
      .orderBy("conv_id")
  }

  /** LLM composite — DPO preference pairs from the same twin fixture:
    * every duplicated prompt (base conv c + twin c+1000) becomes one
    * (chosen, rejected) pair scored by rendered response LENGTH
    * (integer-exact, so the election and the margin replay bit-for-bit
    * in SQL); singleton prompts drop. The dedup fork keeps one
    * survivor, this fork keeps the disagreement as training signal. */
  def llmDpoPairs(s: SparkSession, d: String): DataFrame = {
    val rendered = Instruction.renderChat(sftTwinTurns(s, d),
      "conv_id", "ord", "role", "t")
    Instruction.preferencePairs(rendered, scoreCol = "resp_len")
      .orderBy("prompt_fp")
  }

  // ── Scaling-visible gates ────────────────────────────────────────────
  // The sf0.1 battery is floor-dominated (164/238 keys < 2 s ≈ scan + a
  // few jobs + the noop sink), so the driver's 8-vs-32-core probe read
  // ratios ≈ 1 everywhere and flagged the engine as suspect even though
  // Bench honors $SPARK_GRAFT_CPUS (round-18 verdict #2). These two
  // gates are a scaling-VISIBLE surface: each replicates the documents
  // table 32× IN the query (a fixed factor, pinned in the oracle SQL —
  // never env-dependent, so the declared result is stable) and runs a
  // genuinely compute-bound, embarrassingly parallel map pass over the
  // replicas — enough work that wall time tracks core count. Replicas
  // are id-salted like the ScaleProbe convention; the map pass sits
  // ABOVE the replica Generate, which an exchange cannot swallow (the
  // r13 project-sinking lesson), so the work provably runs wide.
  private val scaleReplicas = 32

  /** SCALE1 — the DSIR/DoReMi hashed-gram pass at 32× volume: per
    * replica, unigram+bigram md5 buckets over the salted text, counted
    * per (replica, bucket). CPU profile: tokenize + gram concat + md5
    * per gram — the dedup/selection families' dominant map cost. */
  def scale1GramsWide(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.widenIfNarrow(
      Tables.documents(s, d).select("doc_id", "text"), "doc_id")
    val salted = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(scaleReplicas - 1L))).as("rep"),
        col("text"))
      .select(col("rep"),
        split(trim(concat(col("text"), lit(" rep"),
          col("rep").cast("string"))), "\\s+").as("ws"))
    salted
      .select(col("rep"),
        explode(graft.ops.Sampling.gramsOf(col("ws"))).as("g"))
      .select(col("rep"), graft.ops.Sampling.gramBucket(col("g")).as("bk"))
      .groupBy("rep", "bk").agg(count(lit(1)).as("c"))
      .orderBy("rep", "bk")
  }

  /** SCALE2 — the shingle pass (d4's 3-word-gram geometry) at 32×
    * volume: per (replica, lang), the positional 3-gram count and an
    * order-free integer checksum over the grams' md5 buckets. CPU
    * profile: tokenize + 3-token concat + md5 per position — the
    * near-dup family's dominant map cost, grouped by a second key so
    * the shuffle side is exercised too. */
  def scale2ShinglesWide(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.widenIfNarrow(
      Tables.documents(s, d).select("doc_id", "lang", "text"), "doc_id")
    val salted = docs
      .select(col("lang"),
        explode(sequence(lit(0L), lit(scaleReplicas - 1L))).as("rep"),
        col("text"))
      .select(col("rep"), col("lang"),
        split(trim(concat(col("text"), lit(" rep"),
          col("rep").cast("string"))), "\\s+").as("ws"))
    val grams = salted
      .filter(size(col("ws")) >= 3)
      .select(col("rep"), col("lang"),
        explode(transform(sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(3))))).as("g"))
    grams
      .select(col("rep"), col("lang"),
        graft.ops.Sampling.gramBucket(col("g")).cast("long").as("bk"))
      .groupBy("rep", "lang")
      .agg(count(lit(1)).as("n_grams"), sum(col("bk")).as("bk_sum"))
      .orderBy("rep", "lang")
  }

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  /** T20's oracle: every Gopher rule statistic recomputed on RAW gram
    * strings (the engine's doc-local sorted-run scan must agree with a
    * plain per-(doc, gram) GROUP BY). Char-mass convention: count ×
    * charLen per gram, raw text length as the denominator — see
    * TextAnalysis.gramCoverage. */
  private val gopherTopNs = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val gopherDupNs = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
    9 -> 0.11, 10 -> 0.10)

  /** The conjunction the `keep` flag pins — shared by t20's oracle and
    * the llm_select_pipeline composite's kept-docs stage. */
  private val gopherKeepRules: String = (Seq(
    "n_words BETWEEN 50 AND 100000",
    "mean_word_len BETWEEN 3 AND 10",
    "symbol_ratio <= 0.1",
    "alpha_word_frac >= 0.8",
    "stop_hits >= 2") ++
    gopherTopNs.map { case (n, thr) => s"top${n}_frac <= $thr" } ++
    gopherDupNs.map { case (n, thr) => s"dup${n}_frac <= $thr" })
    .mkString(" AND ")

  /** T24's oracle chain through `scored` (one row per ≥2-token doc
    * with its bigram count and interpolated LM score) — shared by the
    * t24 gate and t25's bucket census. Caps tie-break on md5 hex (the
    * engine's collation-proof rule); the interpolation writes
    * `(1 - 0.7)` as a subtraction so both engines evaluate the
    * identical double. */
  private val bigramLmCtes: String =
    """WITH tok AS (SELECT doc_id AS id,
      |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |uniall AS (SELECT w, count(*) AS uc
      |  FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY w),
      |dn AS (SELECT CAST(sum(uc) AS BIGINT) + count(*) AS denom FROM uniall),
      |uni AS (SELECT w, uc FROM uniall ORDER BY uc DESC, md5(w) LIMIT 100000),
      |db AS (SELECT id, unnest(list_transform(range(1, len(ws)),
      |    i -> {'p': ws[i], 'c': ws[i + 1]})) AS bg
      |  FROM tok WHERE len(ws) >= 2),
      |db2 AS (SELECT id, bg.p AS p, bg.c AS c FROM db),
      |bc AS (SELECT p, c, count(*) AS bc FROM db2 GROUP BY p, c
      |  ORDER BY bc DESC, md5(p || ' ' || c) LIMIT 200000),
      |scored AS (SELECT db2.id, count(*) AS n_bigrams,
      |  round(avg(ln((CASE WHEN coalesce(pu.uc, 0) > 0
      |      THEN coalesce(bc.bc, 0) * 1.0 / pu.uc ELSE 0 END) * 0.7
      |    + ((coalesce(cu.uc, 0) + 1) * 1.0 / denom) * (1 - 0.7))), 6) AS avg_logp
      |  FROM db2 LEFT JOIN bc ON db2.p = bc.p AND db2.c = bc.c
      |  LEFT JOIN uni pu ON db2.p = pu.w
      |  LEFT JOIN uni cu ON db2.c = cu.w, dn
      |  GROUP BY db2.id)""".stripMargin

  /** The TARGET-TRAINED variant of [[bigramLmCtes]] — model CTEs read
    * the src0 slice, scoring reads the whole corpus (tok carries lang
    * for consumers that bucket) — shared by the llm_ccnet_pipeline and
    * t26_bigram_lm_store oracles so the two store-equals-live gates
    * can never drift apart on the chain itself. Same FP-order and
    * md5-tie-break conventions as the single-corpus chain. */
  private val targetBigramLmCtes: String =
    """WITH tok AS (SELECT doc_id AS id, lang,
      |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |ttok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE source = 'src0'),
      |uniall AS (SELECT w, count(*) AS uc
      |  FROM (SELECT unnest(ws) AS w FROM ttok) GROUP BY w),
      |dn AS (SELECT CAST(sum(uc) AS BIGINT) + count(*) AS denom FROM uniall),
      |uni AS (SELECT w, uc FROM uniall ORDER BY uc DESC, md5(w) LIMIT 100000),
      |tb AS (SELECT unnest(list_transform(range(1, len(ws)),
      |    i -> {'p': ws[i], 'c': ws[i + 1]})) AS bg
      |  FROM ttok WHERE len(ws) >= 2),
      |tb2 AS (SELECT bg.p AS p, bg.c AS c FROM tb),
      |bc AS (SELECT p, c, count(*) AS bc FROM tb2 GROUP BY p, c
      |  ORDER BY bc DESC, md5(p || ' ' || c) LIMIT 200000),
      |db AS (SELECT id, unnest(list_transform(range(1, len(ws)),
      |    i -> {'p': ws[i], 'c': ws[i + 1]})) AS bg
      |  FROM tok WHERE len(ws) >= 2),
      |db2 AS (SELECT id, bg.p AS p, bg.c AS c FROM db),
      |scored AS (SELECT db2.id, count(*) AS n_bigrams,
      |  round(avg(ln((CASE WHEN coalesce(pu.uc, 0) > 0
      |      THEN coalesce(bc.bc, 0) * 1.0 / pu.uc ELSE 0 END) * 0.7
      |    + ((coalesce(cu.uc, 0) + 1) * 1.0 / denom) * (1 - 0.7))), 6) AS avg_logp
      |  FROM db2 LEFT JOIN bc ON db2.p = bc.p AND db2.c = bc.c
      |  LEFT JOIN uni pu ON db2.p = pu.w
      |  LEFT JOIN uni cu ON db2.c = cu.w, dn
      |  GROUP BY db2.id)""".stripMargin

  /** The gopher-rule CTE chain through `f` (one row per doc with every
    * rule value), over relation `rel` — reused by t20's oracle and the
    * llm_select_pipeline composite. */
  private def gopherCtes(rel: String): String = {
    val topNs = gopherTopNs
    val dupNs = gopherDupNs
    val gramCtes = (topNs ++ dupNs).map(_._1).map { n =>
      s"""g$n AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - $n + 2),
         |    i -> array_to_string(list_slice(ws, i, i + $n - 1), ' '))) AS s
         |  FROM t WHERE len(ws) >= $n),
         |c$n AS (SELECT doc_id, s, count(*) AS c FROM g$n GROUP BY doc_id, s),
         |m$n AS (SELECT doc_id, max(c * length(s)) AS maxp,
         |  sum(CASE WHEN c >= 2 THEN c * length(s) ELSE 0 END) AS dups
         |  FROM c$n GROUP BY doc_id)""".stripMargin
    }.mkString(",\n")
    val fracCols = (topNs.map { case (n, _) =>
      s"round(coalesce(m$n.maxp, 0) * 1.0 / n_chars, 6) AS top${n}_frac"
    } ++ dupNs.map { case (n, _) =>
      s"round(coalesce(m$n.dups, 0) * 1.0 / n_chars, 6) AS dup${n}_frac"
    }).mkString(",\n  ")
    val joins = (topNs ++ dupNs).map(_._1)
      .map(n => s"LEFT JOIN m$n ON b.doc_id = m$n.doc_id").mkString(" ")
    s"""t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS ws FROM $rel),
       |base AS (SELECT doc_id, text, ws,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  round(list_sum(list_transform(ws, w -> length(w))) * 1.0 / greatest(len(ws), 1), 6) AS mean_word_len,
       |  round(((length(text) - length(replace(text, '#', ''))) +
       |    (length(text) - length(replace(text, '...', ''))) / 3) * 1.0
       |    / greatest(len(ws), 1), 6) AS symbol_ratio,
       |  round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
       |    / greatest(len(ws), 1), 6) AS alpha_word_frac,
       |  CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END)
       |    + (CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits,
       |  greatest(length(text), 1) AS n_chars
       |  FROM t),
       |$gramCtes,
       |f AS (SELECT b.doc_id, n_words, mean_word_len, symbol_ratio,
       |  alpha_word_frac, stop_hits,
       |  $fracCols
       |  FROM base b $joins)""".stripMargin
  }

  private val gopherSql: String =
    s"""WITH ${gopherCtes("documents")}
       |SELECT *, CAST(CASE WHEN $gopherKeepRules THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM f ORDER BY doc_id""".stripMargin

  /** The DSIR CTE chain (distinct `d`-prefixed names so it composes
    * with other chains in one WITH): target = src0 slice of `rel`, raw
    * pool = all of `rel`; ends at `dw` (doc_id, log_w). Shared by r8's
    * oracle and the llm_select_pipeline composite. */
  private def dsirCtes(rel: String): String =
    s"""dt AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS ws FROM $rel),
       |dg AS (SELECT doc_id, source, unnest(ws) AS g FROM dt
       |  UNION ALL
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS g
       |  FROM dt WHERE len(ws) >= 2),
       |db AS (SELECT doc_id, source,
       |  (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
       |  (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS bk FROM dg),
       |dtc AS (SELECT bk, count(*) AS c FROM db WHERE source = 'src0' GROUP BY bk),
       |drc AS (SELECT bk, count(*) AS c FROM db GROUP BY bk),
       |dtt AS (SELECT sum(c) AS tot FROM dtc),
       |drt AS (SELECT sum(c) AS tot FROM drc),
       |dratio AS (SELECT r.bk,
       |  ln((coalesce(t.c, 0) + 1.0) / (dtt.tot + 256)) -
       |  ln((r.c + 1.0) / (drt.tot + 256)) AS lr
       |  FROM drc r LEFT JOIN dtc t USING (bk), dtt, drt),
       |dw AS (SELECT doc_id, round(sum(lr), 6) AS log_w
       |  FROM db JOIN dratio ON db.bk = dratio.bk GROUP BY doc_id)""".stripMargin

  /** R13's oracle CTEs — DoReMi excess loss and one-EG-step weights
    * over the hashed-gram bucket distributions (dsirCtes' bucket rule,
    * keyed by source). `mw` carries (source, n_grams, excess, weight);
    * excess is rounded to 6 dp BEFORE the exponential on both engines
    * (the r8 rule: bucket-sum order differs in the last ulps and the
    * softmax must not see it). Constants pinned to the gate: eta 10,
    * smoothing 0.1, 256 buckets. */
  private val doremiCtes: String =
    """mt AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |mg AS (SELECT doc_id, source, unnest(ws) AS g FROM mt
      |  UNION ALL
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS g
      |  FROM mt WHERE len(ws) >= 2),
      |mb AS (SELECT source,
      |  (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
      |  (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS bk FROM mg),
      |mc AS (SELECT source, bk, count(*) AS c FROM mb GROUP BY source, bk),
      |ma AS (SELECT source, bk, c,
      |  sum(c) OVER (PARTITION BY source) AS totd,
      |  sum(c) OVER (PARTITION BY bk) AS cb,
      |  sum(c) OVER () AS tot FROM mc),
      |mx AS (SELECT source, CAST(max(totd) AS BIGINT) AS n_grams,
      |  round(sum((c * 1.0 / totd) *
      |    (ln((c + 1.0) / (totd + 256)) - ln((cb + 1.0) / (tot + 256)))), 6) AS excess
      |  FROM ma GROUP BY source),
      |mw AS (SELECT source, n_grams, excess,
      |  round(0.9 * exp(excess * 10) / sum(exp(excess * 10)) OVER ()
      |    + 0.1 / count(*) OVER (), 6) AS weight FROM mx)""".stripMargin

  /** The ranked-selection tail over `dw` (no LIMIT — callers append). */
  private val dsirSelect: String =
    """SELECT doc_id AS id, log_w,
      |  CAST(row_number() OVER (ORDER BY log_w DESC, doc_id) AS BIGINT) AS rank
      |FROM dw ORDER BY log_w DESC, doc_id""".stripMargin

  /** Shared by d19 (batch operator) and d20 (at-rest store path) —
    * per-source boilerplate election (≥ 3 distinct docs of one source
    * share the 5-gram) recomputed from scratch; removal has NO
    * keep-first exception. */
  private val boilerplateSql: String =
    """WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |g AS (SELECT doc_id, source, u.p AS p, u.s AS s FROM (
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(ws) - 3),
      |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
      |  FROM t WHERE len(ws) >= 5)),
      |boiler AS (SELECT source, s FROM g GROUP BY source, s
      |  HAVING count(DISTINCT doc_id) >= 3),
      |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS i
      |  FROM g SEMI JOIN boiler ON g.source = boiler.source AND g.s = boiler.s),
      |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM t)),
      |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
      |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
      |outp AS (SELECT doc_id, count(*) AS n_kept,
      |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
      |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(clean_text, '') AS clean_text
      |FROM t LEFT JOIN outp ON t.doc_id = outp.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** t35/t36 shared oracle: the synthesized eval suite + cross-set
    * exact jaccard + whole-doc flag. */
  private val fuzzyDecontamSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |ev AS (SELECT doc_id + 500000000 AS doc_id,
        |  regexp_split_to_array(trim(CASE WHEN doc_id % 2 = 0
        |    THEN text || ' extra' ELSE text END), '\s+') AS ws
        |  FROM documents WHERE doc_id % 97 = 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
        |she AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM ev),
        |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
        |sze AS (SELECT doc_id, count(*) AS sz FROM she GROUP BY doc_id),
        |pr AS (SELECT e.doc_id AS id_a, c.doc_id AS id_b, count(*) AS shared
        |  FROM she e JOIN shc c ON e.s = c.s GROUP BY 1, 2),
        |jp AS (SELECT id_b, shared * 1.0 / (sa.sz + sb.sz - shared) AS j
        |  FROM pr JOIN sze sa ON id_a = sa.doc_id JOIN szc sb ON id_b = sb.doc_id
        |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8),
        |hits AS (SELECT id_b AS doc_id, round(max(j), 6) AS eval_jaccard FROM jp GROUP BY id_b)
        |SELECT t.doc_id, h.eval_jaccard,
        |  CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
        |FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin

  /** mm4/mm7/mm8 shared oracle: the %5-twin dup-group structure every
    * perceptual fingerprint is contracted to mirror. */
  private val mediaDupGroupsSql: String =
    """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
      |m AS (SELECT doc_id AS media_id, text FROM t
      |  UNION ALL SELECT doc_id + 500000000, text FROM t WHERE doc_id % 5 = 0),
      |g AS (SELECT media_id,
      |  min(media_id) OVER (PARTITION BY text) AS group_id,
      |  count(*) OVER (PARTITION BY text) AS n_in_group FROM m)
      |SELECT media_id, group_id, CAST(n_in_group AS BIGINT) AS n_in_group,
      |  CASE WHEN n_in_group > 1 THEN 1 ELSE 0 END AS is_dup
      |FROM g ORDER BY media_id""".stripMargin

  /** mm6/mm9/mm10 shared oracle: the cross-batch keeper rule every
    * perceptual ingest loop is contracted to publish (batch index = id
    * parity, batch 1 first; store slice excluded). */
  private val mediaDedupStreamSql: String =
    """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
      |st AS (SELECT DISTINCT text FROM t WHERE doc_id % 31 = 0),
      |b AS (SELECT doc_id AS media_id, text FROM t WHERE doc_id % 31 <> 0
      |  UNION ALL SELECT doc_id + 500000000, text FROM t
      |  WHERE doc_id % 31 = 0 AND doc_id % 10 = 0),
      |r AS (SELECT media_id, text, row_number() OVER (PARTITION BY text
      |  ORDER BY CASE WHEN media_id % 2 = 0 THEN 1 ELSE 2 END, media_id) AS rn
      |  FROM b)
      |SELECT media_id FROM r
      |WHERE rn = 1 AND text NOT IN (SELECT text FROM st)
      |ORDER BY media_id""".stripMargin

  /** Shared CTE prefix: word-3-gram shingles, per-doc sizes, per-pair
    * shared counts — the ground-truth Jaccard machinery used by the
    * d2/d4 pair oracles and the d6 cluster oracle. */
  private val ngramPairCtes: String =
    """t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Shared CTE prefix for the d8/d12 oracles: exact cosine ≥ 0.45
    * pairs, symmetrized edges, recursive closure, min-id component
    * labels — DuckDB's ground-truth SemDeDup keeper machinery. */
  private val semanticKeeperCtes: String =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
      |edges AS (SELECT id_a AS s, id_b AS d FROM p
      |  UNION SELECT id_b, id_a FROM p),
      |walk(s, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM edges) nodes
      |  UNION SELECT e2.s, w.r FROM edges e2 JOIN walk w ON e2.d = w.s),
      |comp AS (SELECT s AS cid, min(r) AS cluster_id FROM walk GROUP BY s)""".stripMargin

  /** Shared oracle for d10 (live recompute) and d11 (at-rest store):
    * ground-truth CROSS-SET word-3-gram jaccard pairs ≥ 0.8 — batch
    * (doc_id % 5 = 0) against corpus (doc_id % 5 ≠ 0). */
  private val crossSetJaccardSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** d3's gate oracle: the d2/d4 ground-truth jaccard pair rows plus the
    * two invariant flags the Spark side computes over the (DuckDB-
    * inexpressible) simhash pair set — see d3SimHash. */
  private val simhashGateSql: String =
    s"""WITH $ngramPairCtes
      |SELECT id_a, id_b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard,
      |  1 AS sim_pairs_valid, 1 AS sim_recall_ge_075
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** t15/t19's shared oracle: span-level decontamination recomputed
    * from scratch — eval 5-gram set, corpus positional grams, semi-join
    * → covered positions, token anti join, ordered reassembly. t19 (the
    * size-routed variant forced onto its Bloom route) shares it
    * verbatim because bit-identical output IS the routing contract. */
  private val decontamRewriteSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |c AS (SELECT doc_id, ws FROM t WHERE doc_id % 97 <> 0),
      |eg AS (SELECT DISTINCT u AS s FROM (
      |  SELECT unnest(list_transform(range(1, len(ws) - 3),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS u
      |  FROM t WHERE doc_id % 97 = 0 AND len(ws) >= 5)),
      |g AS (SELECT doc_id, u.p AS p, u.s AS s FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
      |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
      |  FROM c WHERE len(ws) >= 5)),
      |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS i
      |  FROM g SEMI JOIN eg ON g.s = eg.s),
      |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM c)),
      |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
      |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
      |outp AS (SELECT doc_id, count(*) AS n_kept,
      |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
      |SELECT c.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
      |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(clean_text, '') AS clean_text
      |FROM c LEFT JOIN outp ON c.doc_id = outp.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** ann7's oracle: recount the per-cell occupancy distribution of the
    * at-rest IVF index from its own parquet files (cell read from the
    * hive partition path, CAST to INT so tie-ordering in the top-K sum
    * matches Spark's integer cell ordering, not string ordering). The
    * path is pid-scoped and interpolated at dump time — same process,
    * same files the query measured. */
  private def ivfCellStatsSql: String = {
    val p = ivfStatsDir
    s"""WITH c AS (SELECT CAST(cell AS INT) AS k, count(*) AS n
      |  FROM read_parquet('$p/cells/batch=*/cell=*/*.parquet', hive_partitioning = 1)
      |  GROUP BY 1),
      |top AS (SELECT CAST(sum(n) AS BIGINT) AS top_n
      |  FROM (SELECT n FROM c ORDER BY n DESC, k LIMIT 10)),
      |agg AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
      |  max(n) AS max_n, round(avg(n), 4) AS mean_n,
      |  round(max(n) / avg(n), 4) AS skew_ratio FROM c)
      |SELECT n_keys, n_rows, max_n, mean_n, skew_ratio,
      |  round(top_n * 1.0 / n_rows, 6) AS top_share
      |FROM agg, top""".stripMargin
  }

  /** ANN19's oracle, GENERATED from the same f(j,c,t) = (j·13 + c·7 +
    * t·3) mod 17 grid the engine installs (pqGrid) — the
    * doremi literal rule applied to a whole codebook: both sides
    * recompute the constants, neither copies a magic table. m=2
    * subspaces × k=4 centroids × subDim=4; distances are sums of
    * squared small-int differences (exact in double), argmin CASE
    * order = the engine's first-minimum tie-break. */
  private val ann19PqSql: String = {
    def f(j: Int, c: Int, t: Int): Int = (j * 13 + c * 7 + t * 3) % 17
    val es = (0 until 8).map(i =>
      s"  CAST((length(text)*31 + doc_id*17 + $i*7) % 97 AS DOUBLE) AS e$i")
      .mkString(",\n")
    def dist(j: Int, c: Int): String = (0 until 4).map { t =>
      val e = s"e${4 * j + t}"; val g = f(j, c, t)
      s"($e - $g)*($e - $g)"
    }.mkString(" + ")
    val dists = (for { j <- 0 to 1; c <- 0 to 3 }
      yield s"  ${dist(j, c)} AS d$j$c").mkString(",\n")
    def argmin(j: Int): String =
      s"CASE WHEN d${j}0 <= d${j}1 AND d${j}0 <= d${j}2 AND d${j}0 <= d${j}3 THEN 0 " +
        s"WHEN d${j}1 <= d${j}2 AND d${j}1 <= d${j}3 THEN 1 " +
        s"WHEN d${j}2 <= d${j}3 THEN 2 ELSE 3 END"
    def n2(j: Int, c: Int): Int = (0 until 4).map(t => f(j, c, t) * f(j, c, t)).sum
    def norm(j: Int): String =
      s"CASE c$j " + (0 to 3).map(c => s"WHEN $c THEN ${n2(j, c)}").mkString(" ") +
        " END"
    s"""WITH e AS (SELECT doc_id,
       |$es
       |FROM documents),
       |d AS (SELECT doc_id,
       |$dists
       |FROM e),
       |cd AS (SELECT doc_id,
       |  ${argmin(0)} AS c0,
       |  ${argmin(1)} AS c1
       |FROM d)
       |SELECT doc_id, c0, c1,
       |  CAST(${norm(0)} + ${norm(1)} AS DOUBLE) AS recon_norm
       |FROM cd ORDER BY doc_id""".stripMargin
  }

  /** The t46/t47 shared oracle: BM25 end to end over the gate's query
    * set (maxDfRatio = 1.0 — see t46Bm25TopK's scaladoc). */
  private val bm25GateSql: String =
    """WITH body AS (SELECT doc_id AS n_id,
      |  regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
      |dl AS (SELECT n_id, CAST(len(tk) AS BIGINT) AS dl FROM body),
      |tf AS (SELECT n_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
      |  SELECT n_id, unnest(tk) AS term FROM body) GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
      |post AS (SELECT tf.n_id, tf.term, tf.tf, dl.dl, st.avgdl,
      |  ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) AS idf
      |  FROM tf JOIN dl USING (n_id) JOIN df USING (term), st
      |  WHERE df.df <= 1.0 * st.n_docs),
      |q AS (SELECT doc_id AS q_id, substring(text, 1, 60) AS q_text
      |  FROM documents WHERE doc_id % 83 = 0 AND doc_id < 500),
      |qt AS (SELECT q_id, unnest(list_distinct(
      |  regexp_split_to_array(trim(lower(q_text)), '\s+'))) AS term FROM q),
      |sc AS (SELECT q_id, n_id,
      |  round(sum(idf * (tf * (1.2 + 1)) /
      |    (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
      |  FROM qt JOIN post USING (term) GROUP BY 1, 2),
      |r AS (SELECT q_id, n_id, bm25, ROW_NUMBER() OVER (
      |  PARTITION BY q_id ORDER BY bm25 DESC, n_id ASC) AS rank FROM sc)
      |SELECT q_id, rank, n_id, bm25 FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** The t49/t51 shared oracle: BM25 with the df-based stopword prune
    * (maxDfRatio = 0.5) replayed end to end over the
    * realistic-vocabulary fixture — shared so the live gate (t49) and
    * the rebuilt-store gate (t51) can never drift apart. */
  private val bm25PrunedGateSql: String =
    """WITH corpus AS (SELECT doc_id,
      |  'the of the w' || CAST(doc_id % 211 AS VARCHAR) ||
      |  ' w' || CAST(doc_id % 211 AS VARCHAR) ||
      |  ' x' || CAST(doc_id % 997 AS VARCHAR) ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' longtail filler pad' ELSE '' END
      |  AS text FROM documents),
      |body AS (SELECT doc_id AS n_id,
      |  regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM corpus),
      |dl AS (SELECT n_id, CAST(len(tk) AS BIGINT) AS dl FROM body),
      |tf AS (SELECT n_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
      |  SELECT n_id, unnest(tk) AS term FROM body) GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
      |post AS (SELECT tf.n_id, tf.term, tf.tf, dl.dl, st.avgdl,
      |  ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) AS idf
      |  FROM tf JOIN dl USING (n_id) JOIN df USING (term), st
      |  WHERE df.df <= 0.5 * st.n_docs),
      |q AS (SELECT doc_id AS q_id,
      |  'the w' || CAST(doc_id % 211 AS VARCHAR) ||
      |  ' x' || CAST(doc_id % 997 AS VARCHAR) AS q_text
      |  FROM documents WHERE doc_id % 83 = 0 AND doc_id < 500),
      |qt AS (SELECT q_id, unnest(list_distinct(
      |  regexp_split_to_array(trim(lower(q_text)), '\s+'))) AS term FROM q),
      |sc AS (SELECT q_id, n_id,
      |  round(sum(idf * (tf * (1.2 + 1)) /
      |    (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
      |  FROM qt JOIN post USING (term) GROUP BY 1, 2),
      |r AS (SELECT q_id, n_id, bm25, ROW_NUMBER() OVER (
      |  PARTITION BY q_id ORDER BY bm25 DESC, n_id ASC) AS rank FROM sc)
      |SELECT q_id, rank, n_id, bm25 FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** ann2/ann3's gate oracle: the pinned (query × rank) grid with every
    * invariant flag at 1 — see annInvariantGate. */
  private val annGateSql: String =
    """SELECT e.vec_id AS q_id, CAST(r.range AS INT) AS rank,
      |  1 AS sim_ok, 1 AS neighbor_ok, 1 AS recall_floor_ok
      |FROM embeddings e CROSS JOIN range(1, 6) r
      |WHERE e.vec_id < 5
      |ORDER BY q_id, rank""".stripMargin

  /** Shared oracle for d2 (MinHash+LSH, exact-verified) and d4 (direct
    * n-gram Jaccard): ground-truth word-3-gram Jaccard pairs ≥ 0.8. */
  private val ngramJaccardSql: String =
    s"""WITH $ngramPairCtes
      |SELECT id_a, id_b,
      |  round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
      |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** The exact-pair component closure (jp -> edges -> walk -> comp)
    * shared by the d6/d16/r11 oracles — one constant so an edit to
    * the closure (threshold, walk rule) cannot silently desynchronize
    * the three gates that depend on identical clustering. */
  private val componentClosureCtes: String =
    """jp AS (SELECT id_a, id_b
      |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8),
      |edges AS (SELECT id_a AS s, id_b AS d FROM jp
      |  UNION SELECT id_b, id_a FROM jp),
      |walk(s, r) AS (SELECT s, s FROM (SELECT DISTINCT s FROM edges) nodes
      |  UNION SELECT e.s, w.r FROM edges e JOIN walk w ON e.d = w.s),
      |comp AS (SELECT s AS doc_id, min(r) AS cluster_id FROM walk GROUP BY s)""".stripMargin

  /** d6 oracle: transitive closure of the ground-truth pair graph via a
    * recursive CTE, each doc labeled with the min reachable id;
    * singletons label themselves. */
  private val dedupClustersSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
      |$componentClosureCtes
      |SELECT dd.doc_id, coalesce(c.cluster_id, dd.doc_id) AS cluster_id
      |FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.doc_id
      |ORDER BY dd.doc_id""".stripMargin

  /** r11 oracle: d6's recursive component closure feeding the
    * md5-threshold split keyed on the cluster label (25% → the r2/r9
    * '4000…' threshold), censused per side. */
  private val clusterSplitSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
      |$componentClosureCtes,
      |lab AS (SELECT dd.doc_id, coalesce(c.cluster_id, dd.doc_id) AS cl
      |  FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.doc_id),
      |sp AS (SELECT doc_id, cl,
      |  CASE WHEN md5(CAST(cl AS VARCHAR) || 'split')
      |    < '40000000000000000000000000000000' THEN 'test'
      |    ELSE 'train' END AS split FROM lab)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT cl) AS BIGINT) AS n_clusters
      |FROM sp GROUP BY split ORDER BY split""".stripMargin

  /** d16 oracle: d6's recursive component closure, every doc scored with
    * t2's composite quality expression (rounded 6 dp on BOTH sides so
    * the argmax ranks identical values), keeper = row_number 1 per
    * cluster ordered (q DESC, doc_id). */
  private val clusterBestSql: String =
    s"""WITH RECURSIVE $ngramPairCtes,
      |$componentClosureCtes,
      |lab AS (SELECT d2.doc_id, coalesce(c.cluster_id, d2.doc_id) AS cluster_id,
      |  round(least(len(ws) / 50.0, 1.0) * 0.5
      |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
      |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
      |    - (length(txt) - length(regexp_replace(txt, '[^a-zA-Z0-9\\s]', '', 'g'))) * 1.0
      |        / greatest(length(txt), 1), 6) AS q
      |  FROM (SELECT doc_id, text AS txt,
      |    regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents) d2
      |  LEFT JOIN comp c ON d2.doc_id = c.doc_id),
      |mem AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY cluster_id),
      |keep AS (SELECT cluster_id, doc_id AS keeper_id FROM (
      |  SELECT cluster_id, doc_id,
      |    row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
      |  FROM lab) WHERE rn = 1)
      |SELECT lab.doc_id, lab.cluster_id, lab.q, keep.keeper_id, mem.n_members,
      |  CASE WHEN lab.doc_id = keep.keeper_id THEN 1 ELSE 0 END AS kept
      |FROM lab JOIN keep USING (cluster_id) JOIN mem USING (cluster_id)
      |ORDER BY lab.doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("d1_exact_dedup", d1ExactDedup,
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars, ROW_NUMBER() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    Gate("d2_minhash_lsh", d2MinHashLsh, ngramJaccardSql),
    Gate("d3_simhash", d3SimHash, simhashGateSql),
    Gate("d4_ngram_jaccard", d4NgramJaccard, ngramJaccardSql),
    Gate("d5_embed_dup", d5EmbedDup,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin),
    Gate("d6_dedup_clusters", d6DedupClusters, dedupClustersSql),
    // D8 = d5's cosine pair join + d6's recursive-CTE closure, pruned to
    // each component's minimum id (singletons keep themselves)
    Gate("d8_semantic_dedup", d8SemanticDedup,
      s"""WITH RECURSIVE $semanticKeeperCtes
        |SELECT ee.vec_id FROM e ee LEFT JOIN comp c ON ee.vec_id = c.cid
        |WHERE c.cluster_id IS NULL OR c.cluster_id = ee.vec_id
        |ORDER BY ee.vec_id""".stripMargin),
    Gate("t1_token_count", t1TokenCount,
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("t2_quality", t2Quality,
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars_q,
        |  len(ws) AS n_words,
        |  round(list_sum(list_transform(ws, w -> length(w) * 1.0)) / len(ws), 6) AS mean_word_len,
        |  round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |    / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in'))) * 1.0
        |    / len(ws), 6) AS stopword_ratio,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin),
    Gate("t5_tfidf", t5TfIdf,
      """WITH toks AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |tf AS (SELECT doc_id AS id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT id, token, tf, df,
        |  round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |FROM tf JOIN dfq USING (token), n
        |WHERE id < 25
        |ORDER BY id, token""".stripMargin),
    Gate("t6_repetition", t6Repetition,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id,
        |  round(1.0 - len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 6) AS rep_ratio,
        |  round(list_max(list_transform(list_distinct(ws),
        |    x -> len(list_filter(ws, w -> w = x)))) * 1.0
        |    / greatest(len(ws), 1), 6) AS max_token_ratio
        |FROM t ORDER BY doc_id""".stripMargin),
    Gate("t7_redact_pii", t7RedactPii,
      """WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' contact alice@example.com or 555-123-4567'
        |       WHEN doc_id % 7 = 3 THEN ' server at 192.168.0.1'
        |       ELSE '' END AS text2 FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(text2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |  + len(regexp_extract_all(text2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_pii,
        |  length(regexp_replace(regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS n_chars_redacted
        |FROM t ORDER BY doc_id""".stripMargin),
    Gate("t8_pack_sequences", t8PackSequences,
      """WITH t AS (SELECT doc_id AS id, doc_id % 8 AS shard,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens FROM documents),
        |c AS (SELECT id, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT id, shard, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS chunk_id
        |FROM c ORDER BY id""".stripMargin),
    Gate("t9_lm_score", t9LmScore,
      """WITH tok AS (SELECT doc_id AS id,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS v FROM vocab)
        |SELECT id, count(*) AS n_tokens,
        |  round(avg(ln((cnt + 1) * 1.0 / (total + v))), 6) AS avg_logp
        |FROM tok JOIN vocab USING (token), s
        |GROUP BY id ORDER BY id""".stripMargin),
    Gate("r4_quota_sample", r4QuotaSample,
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 30 ORDER BY lang, doc_id""".stripMargin),
    Gate("d7_incremental_dedup", d7IncrementalDedup,
      """WITH fp AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp)
        |SELECT doc_id, fp FROM keep
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = keep.fp)
        |ORDER BY doc_id""".stripMargin),
    // the Bloom-routed store path is exact (see d15FpStore) → d7's oracle
    Gate("d15_fp_store", d15FpStore,
      """WITH fp AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp)
        |SELECT doc_id, fp FROM keep
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = keep.fp)
        |ORDER BY doc_id""".stripMargin),
    Gate("r5_temperature_mix", r5TemperatureMix,
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |q AS (SELECT lang,
        |    CAST(greatest(1, least(n,
        |      floor(200.0 * (pow(n, 0.5) / sum(pow(n, 0.5)) OVER ())))) AS BIGINT)
        |      AS quota
        |  FROM counts),
        |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
        |SELECT r.lang AS lang, r.doc_id AS doc_id FROM r JOIN q ON r.lang = q.lang
        |WHERE rk <= quota ORDER BY r.lang, r.doc_id""".stripMargin),
    Gate("t10_contamination", t10Contamination,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
        |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0),
        |pairs AS (SELECT c.doc_id, e.eval_id, count(*) AS shared
        |  FROM corpus c JOIN ev e ON c.s = e.s GROUP BY 1, 2)
        |SELECT doc_id, max(shared) AS max_shared, count(*) AS n_eval_hits
        |FROM pairs WHERE shared >= 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the Bloom path is exact after its verify join, so its oracle is
    // t10's: same report, different scale shape on the Spark side
    Gate("t14_bloom_decontam", t14BloomDecontam,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
        |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 97 = 0),
        |pairs AS (SELECT c.doc_id, e.eval_id, count(*) AS shared
        |  FROM corpus c JOIN ev e ON c.s = e.s GROUP BY 1, 2)
        |SELECT doc_id, max(shared) AS max_shared, count(*) AS n_eval_hits
        |FROM pairs WHERE shared >= 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("t11_chunking", t11Chunking,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 50),
        |st AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 24)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(ws, start + 1, start + 32), ' ') AS chunk_text,
        |  CAST(len(list_slice(ws, start + 1, start + 32)) AS BIGINT) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin),
    Gate("s_jsonl_roundtrip", sJsonlRoundtrip,
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Gate("llm_pretrain_pipeline", llmPretrainPipeline,
      """WITH fp AS (SELECT doc_id, lang, text,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 97 <> 0),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |dd AS (SELECT f.doc_id, f.lang,
        |    regexp_split_to_array(trim(f.text), '\s+') AS ws
        |  FROM fp f JOIN keep k ON f.doc_id = k.doc_id),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM dd),
        |esh AS (SELECT doc_id AS eval_id, unnest(list_distinct(list_transform(
        |    range(1, len(ews) - 1), i -> ews[i] || ' ' || ews[i+1] || ' ' || ews[i+2]))) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ews
        |        FROM documents WHERE doc_id % 97 = 0)),
        |contam AS (SELECT DISTINCT doc_id FROM (
        |  SELECT c.doc_id, e.eval_id, count(*) AS shared
        |  FROM sh c JOIN esh e ON c.s = e.s GROUP BY 1, 2) WHERE shared >= 2),
        |clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |counts AS (SELECT lang, count(*) AS n FROM clean GROUP BY lang),
        |q AS (SELECT lang,
        |    CAST(greatest(1, least(n,
        |      floor(300.0 * (pow(n, 0.5) / sum(pow(n, 0.5)) OVER ())))) AS BIGINT)
        |      AS quota
        |  FROM counts),
        |r AS (SELECT lang, doc_id, ws, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM clean),
        |mixed AS (SELECT r.lang, r.doc_id, r.ws FROM r JOIN q ON r.lang = q.lang
        |  WHERE rk <= quota),
        |ch AS (SELECT lang, doc_id, ws,
        |    unnest(range(0, greatest(len(ws), 1), 24)) AS start FROM mixed),
        |chunks AS (SELECT lang, doc_id,
        |    len(list_slice(ws, start + 1, start + 32)) AS n_tokens FROM ch)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
        |FROM chunks GROUP BY lang ORDER BY lang""".stripMargin),
    Gate("llm_corpus_pipeline", llmCorpusPipeline,
      """WITH t0 AS (SELECT doc_id, lang, text,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |feat AS (SELECT doc_id, lang, text,
        |    regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM t0 WHERE rn = 1),
        |scored AS (SELECT doc_id, lang, ws,
        |    round(least(len(ws) / 50.0, 1.0) * 0.5
        |      + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |          / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |      - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |          / greatest(length(text), 1), 6) AS q,
        |    round(1.0 - len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 6) AS rep
        |  FROM feat),
        |ranked AS (SELECT doc_id, lang, ws,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS qrk
        |  FROM scored WHERE q >= 0.4 AND rep < 0.5),
        |sampled AS (SELECT doc_id, lang, len(ws) AS n_tokens, doc_id % 4 AS shard
        |  FROM ranked WHERE qrk <= 40),
        |packed AS (SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sampled)
        |SELECT lang, shard, count(*) AS n_docs,
        |  max(CAST(floor((cum - n_tokens) / 256.0) AS BIGINT)) AS max_chunk,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_total
        |FROM packed GROUP BY lang, shard ORDER BY lang, shard""".stripMargin),
    Gate("t3_lang_id", t3LangId,
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
        |  len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in','that'))) AS s_en,
        |  len(list_filter(ws, w -> w IN ('el','la','los','las','es','y','que','un'))) AS s_es,
        |  len(list_filter(ws, w -> w IN ('le','la','les','et','est','que','un','une'))) AS s_fr,
        |  len(list_filter(ws, w -> w IN ('的','是','了','在','和','有','我','不'))) AS s_zh
        |FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin),
    Gate("t4_fingerprint", t4Fingerprint,
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("ann1_brute_force", ann1BruteForce,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (SELECT q_id, e.vec_id AS n_id, list_cosine_similarity(qv, e.v) AS cos
        |  FROM q, e WHERE e.vec_id <> q_id),
        |r AS (SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
        |SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim FROM r
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    Gate("ann2_lsh", ann2Lsh, annGateSql),
    // all three payloads are REAL synthesized containers with
    // SQL-recomputable sizes (Multimodal.fromDocuments): audio = WAV
    // (44-byte canonical header + one 16-bit sample per utf-8 text
    // byte), image = binary PPM ("P6\nL 1\n255\n" header + 3 RGB
    // bytes per text byte), video = Y4M ("YUV4MPEG2 W<L> H1 F25:1 Ip
    // A1:1 Cmono\n" = 35 + digits(L) header, + 4 frames of "FRAME\n"
    // + L luminance bytes). L = max(text bytes, 1) — the empty-text
    // guard pads a single space byte so every container stays valid.
    Gate("mm1_media_meta", mm1MediaMeta,
      """WITH t AS (SELECT doc_id, greatest(octet_length(encode(text)), 1) AS L
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS modality,
        |  CASE WHEN doc_id % 3 = 1 THEN 44 + 2 * L
        |    WHEN doc_id % 3 = 0 THEN 10 + length(CAST(L AS VARCHAR)) + 3 * L
        |    ELSE 59 + length(CAST(L AS VARCHAR)) + 4 * L END AS n_bytes
        |FROM t ORDER BY media_id""".stripMargin),
    // MM2's feature values are JVM-side (Goertzel band energies for
    // the WAV route, luminance histogram for the PPM route, temporal
    // luminance means for the Y4M route), but every route's algebra
    // pins hard invariants the oracle CAN recompute: 16 slots; WAV
    // band energies lie in [0, 1], PPM histogram fractions sum to 1,
    // Y4M per-bin means lie in [0, 1] with a positive sum (see
    // Documents.mm2MediaFeatures).
    Gate("mm2_media_features", mm2MediaFeatures,
      """WITH t AS (SELECT doc_id, greatest(octet_length(encode(text)), 1) AS L
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS modality,
        |  CASE WHEN doc_id % 3 = 1 THEN 44 + 2 * L
        |    WHEN doc_id % 3 = 0 THEN 10 + length(CAST(L AS VARCHAR)) + 3 * L
        |    ELSE 59 + length(CAST(L AS VARCHAR)) + 4 * L END AS n_bytes,
        |  16 AS feat_dim, 1 AS feat_ok
        |FROM t ORDER BY media_id""".stripMargin),
    Gate("ann3_ivf", ann3Ivf, annGateSql),
    Gate("g_explode_slice", gExplodeSlice,
      """SELECT w, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')[1:5]) AS w FROM documents)
        |GROUP BY w ORDER BY n DESC, w ASC""".stripMargin),
    // D9's engine path hashes grams to 8 bytes before exchanging; the
    // oracle recomputes the document frequencies on the raw gram
    // strings — counts are hash-projection-invariant.
    Gate("d9_dup_spans", d9DupSpans,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS s
        |  FROM t WHERE len(ws) >= 5),
        |dupset AS (SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT doc_id, count(*) AS n_dup FROM g JOIN dupset USING (s) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(greatest(len(ws) - 4, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
        |  round(coalesce(n_dup, 0) * 1.0 / greatest(len(ws) - 4, 1), 6) AS dup_frac
        |FROM t LEFT JOIN dup ON t.doc_id = dup.doc_id ORDER BY t.doc_id""".stripMargin),
    Gate("r6_epoch_mix", r6EpochMix,
      """SELECT doc_id, source, epoch FROM (
        |  SELECT doc_id, source, unnest(range(1,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
        |      WHEN 'src2' THEN 2 ELSE 1 END + 1)) AS epoch
        |  FROM documents)
        |ORDER BY doc_id, epoch""".stripMargin),
    // T12: DuckDB's quantile_cont uses the same (n-1)*frac linear
    // interpolation as Spark's exact percentile, over the same
    // 6-dp-rounded scores; rows AT the threshold are kept on both sides.
    Gate("t12_quality_cut", t12QualityCut,
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS quality
        |  FROM t),
        |thr AS (SELECT quantile_cont(quality, 0.25) AS thr FROM q)
        |SELECT doc_id, quality FROM q, thr WHERE quality >= thr
        |ORDER BY doc_id""".stripMargin),
    Gate("d10_incremental_neardup", d10IncrementalNearDup, crossSetJaccardSql),
    // R7: shard + position are pure md5 string arithmetic — recomputed
    // verbatim (strpos instead of a hex-to-int builtin DuckDB lacks).
    Gate("r7_shuffle_shard", r7ShuffleShard,
      """SELECT doc_id, shard, pos FROM (
        |  SELECT doc_id,
        |    CAST((strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS BIGINT) AS shard,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 2, 31), doc_id)
        |      AS BIGINT) AS pos
        |  FROM documents)
        |ORDER BY shard, pos""".stripMargin),
    // LLM shard pipeline: the chain recomputed from scratch — epoch
    // unnest, md5 shard/rank arithmetic (the r7 rule over the composite
    // row key), then the per-shard summary.
    Gate("llm_shard_pipeline", llmShardPipeline,
      """WITH m AS (SELECT doc_id, text,
        |    unnest(range(1, CASE WHEN source IN ('src0','src1')
        |      THEN 2 ELSE 1 END + 1)) AS epoch
        |  FROM documents),
        |k AS (SELECT doc_id, text, doc_id * 10 + epoch AS row_key FROM m),
        |sh AS (SELECT doc_id, text,
        |  CAST((strpos('0123456789abcdef',
        |    substr(md5(CAST(row_key AS VARCHAR)), 1, 1)) - 1) % 8 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY (strpos('0123456789abcdef',
        |      substr(md5(CAST(row_key AS VARCHAR)), 1, 1)) - 1) % 8
        |    ORDER BY substr(md5(CAST(row_key AS VARCHAR)), 2, 31), row_key)
        |    AS BIGINT) AS pos
        |  FROM k)
        |SELECT shard, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok_total,
        |  max(pos) AS max_pos
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin),
    // d11 is the SAME semantics through the at-rest store —
    // store-equals-live is the contract the shared oracle enforces
    Gate("d11_neardup_store", d11NearDupStore, crossSetJaccardSql),
    // d12: the exact keeper rows again, each flagged kept_wc=1 — the
    // within-cell variant keeping every exact keeper IS the superset
    // invariant (fewer edges ⇒ finer components); see Documents.d12SemanticWc
    Gate("d12_semantic_wc", d12SemanticWc,
      s"""WITH RECURSIVE $semanticKeeperCtes
        |SELECT ee.vec_id, 1 AS kept_wc
        |FROM e ee LEFT JOIN comp c ON ee.vec_id = c.cid
        |WHERE c.cluster_id IS NULL OR c.cluster_id = ee.vec_id
        |ORDER BY ee.vec_id""".stripMargin),
    // D10: exact ground-truth cross-set Jaccard pairs (batch = doc_id
    // % 5 = 0 vs landed corpus = the rest) — same shingle machinery as
    // the d2/d4 oracle, pairs restricted to batch×corpus.
    // D13: the keep-first removal rule recomputed from scratch —
    // positional grams, global first occurrence (doc, pos), covered-
    // position union, token-level anti join, ordered reassembly
    Gate("d13_dedup_rewrite", d13DedupRewrite,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, u.p AS p, u.s AS s FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
        |  FROM t WHERE len(ws) >= 5)),
        |occ AS (SELECT doc_id, p, ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn FROM g),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS i FROM occ WHERE rn > 1),
        |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM t)),
        |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
        |outp AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(clean_text, '') AS clean_text
        |FROM t LEFT JOIN outp ON t.doc_id = outp.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // ann4 = ann3's answers through the partition-pruned at-rest index
    Gate("ann4_ivf_store", ann4IvfStore, annGateSql),
    // d14 = the d10/d11 semantics with the corpus landed in TWO store
    // installments (write + append) — same ground truth
    Gate("d14_store_append", d14StoreAppend, crossSetJaccardSql),
    // D29: d14's flow with the install + append generations FOLDED
    // into one batch=0 before the probe — same ground truth, so any
    // row the fold loses or duplicates moves a jaccard and hash-fails
    Gate("d29_neardup_compacted", d29NearDupCompacted, crossSetJaccardSql),
    // T15: span-level decontamination recomputed from scratch — eval
    // 5-gram set, corpus positional grams, semi-join → covered
    // positions, token anti join, ordered reassembly (d13's pattern
    // with the eval set replacing the first-occurrence rule)
    Gate("t15_decontam_rewrite", t15DecontamRewrite, decontamRewriteSql),
    // T16: per-language exact quartile threshold, quality recomputed
    // (t12's oracle with the threshold stratified by lang)
    Gate("t16_stratified_cut", t16StratifiedCut,
      """WITH t AS (SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id, lang,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS quality
        |  FROM t),
        |thr AS (SELECT lang, quantile_cont(quality, 0.25) AS thr FROM q GROUP BY lang)
        |SELECT q.doc_id, q.lang, q.quality FROM q JOIN thr USING (lang)
        |WHERE q.quality >= thr.thr
        |ORDER BY q.doc_id""".stripMargin),
    // T17: exact per-language token census, rank cast to INT (Spark
    // row_number is int32, DuckDB's is int64)
    Gate("t17_vocab_per_lang", t17VocabPerLang,
      """WITH c AS (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |g AS (SELECT lang, token, count(*) AS n FROM c GROUP BY 1, 2),
        |r AS (SELECT lang, token, n,
        |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank FROM g)
        |SELECT lang, token, n, CAST(rank AS INT) AS rank FROM r
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin),
    // ann5: the grow path emits the same pinned (query × rank) grid
    Gate("ann5_ivf_append", ann5IvfAppend, annGateSql),
    // ann20: churn → monitor → side-by-side rebuild → probe; same
    // pinned grid (the invariant flags are engine-verified in-plan,
    // the recall floor measured against post-churn brute force)
    Gate("ann20_ivf_rebuilt", ann20IvfRebuilt, annGateSql),
    Gate("d16_cluster_best", d16ClusterBest, clusterBestSql),
    // D17: min id per canonical form, the form pinned via its md5
    Gate("d17_canonical_dedup", d17CanonicalDedup,
      """WITH k AS (SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, fp FROM k GROUP BY fp
        |ORDER BY doc_id""".stripMargin),
    // LLM curation composite: canonical-dedup keepers → t15's
    // span-removal chain over the survivors → t16's stratified cut
    // over the CLEANED text → per-lang census; every stage's oracle
    // block is individually proven (d17 / t15 / t16 / t2)
    Gate("llm_curation_pipeline", llmCurationPipeline,
      """WITH t AS (SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |corp AS (SELECT doc_id, lang, text, ws FROM t WHERE doc_id % 97 <> 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM corp) GROUP BY fp),
        |surv AS (SELECT corp.* FROM corp SEMI JOIN keep ON corp.doc_id = keep.doc_id),
        |eg AS (SELECT DISTINCT u AS s FROM (
        |  SELECT unnest(list_transform(range(1, len(ws) - 3),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS u
        |  FROM t WHERE doc_id % 97 = 0 AND len(ws) >= 5)),
        |g AS (SELECT doc_id, u.p AS p, u.s AS s FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
        |  FROM surv WHERE len(ws) >= 5)),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS i
        |  FROM g SEMI JOIN eg ON g.s = eg.s),
        |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM surv)),
        |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
        |outp AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id),
        |clean AS (SELECT surv.doc_id, surv.lang,
        |  CAST(coalesce(outp.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(outp.clean_text, '') AS ctext
        |  FROM surv LEFT JOIN outp ON surv.doc_id = outp.doc_id),
        |q AS (SELECT doc_id, lang, n_kept,
        |  round(least(len(ws2) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws2, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws2) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(ctext) - length(regexp_replace(ctext, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(ctext), 1), 6) AS quality
        |  FROM (SELECT *, regexp_split_to_array(trim(ctext), '\s+') AS ws2 FROM clean)),
        |thr AS (SELECT lang, quantile_cont(quality, 0.25) AS thr FROM q GROUP BY lang),
        |fin AS (SELECT q.* FROM q JOIN thr USING (lang) WHERE q.quality >= thr.thr)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_kept) AS BIGINT) AS tok_total,
        |  round(sum(quality), 4) AS quality_sum
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin),
    // ann6: fully value-compared — the candidate stage is the exact
    // baseline (ann1's oracle) and the re-rank is deterministic
    // arithmetic over rounded inputs
    Gate("ann6_hybrid_rerank", ann6HybridRerank,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (SELECT q_id, e.vec_id AS n_id, list_cosine_similarity(qv, e.v) AS cos
        |  FROM q, e WHERE e.vec_id <> q_id),
        |cand AS (SELECT q_id, n_id, round(cos, 6) AS cos_sim FROM (
        |  SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk FROM scored)
        |  WHERE rnk <= 20),
        |dq AS (SELECT doc_id AS n_id,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS ql
        |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)),
        |h AS (SELECT q_id, n_id, round(cos_sim * 0.8 + ql * 0.2, 6) AS combined
        |  FROM cand JOIN dq USING (n_id)),
        |r AS (SELECT q_id, n_id, combined, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY combined DESC, n_id ASC) AS rank FROM h)
        |SELECT q_id, CAST(rank AS INT) AS rank, n_id, combined FROM r
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // T18: d13's removal chain with first-occurrence keyed PER DOC
    // (ROW_NUMBER partitioned by (doc, gram) instead of gram alone)
    Gate("t18_self_dedup_rewrite", t18SelfDedupRewrite,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, u.p AS p, u.s AS s FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
        |  FROM t WHERE len(ws) >= 5)),
        |occ AS (SELECT doc_id, p, ROW_NUMBER() OVER (
        |  PARTITION BY doc_id, s ORDER BY p) AS rn FROM g),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS i FROM occ WHERE rn > 1),
        |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM t)),
        |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
        |outp AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(clean_text, '') AS clean_text
        |FROM t LEFT JOIN outp ON t.doc_id = outp.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // S-PUBLISH: the manifest commit is a file-layout protocol only —
    // the oracle recomputes from the ORIGINAL table, so an orphan batch
    // leaking into the read (or a committed batch going missing) fails
    Gate("s_publish_roundtrip", sPublishRoundtrip,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // S-PUBLISH-COMPACT: compaction under the manifest is a pure
    // file-layout flip — the oracle is the clean table, so a leaked
    // orphan, lost batch, or double-counted row across the flip fails
    Gate("s_publish_compact", sPublishCompact,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // T19: the size-ROUTED rewrite (Bloom-flag docs, rewrite only the
    // flagged sliver) is bit-identical to t15 BY CONTRACT — sharing
    // t15's oracle verbatim IS the gate on that contract
    Gate("t19_decontam_auto", t19DecontamAuto, decontamRewriteSql),
    // ANN7: the drift monitor's stats row recounted by DuckDB straight
    // from the at-rest index parquet (cell = hive partition column) —
    // dq_skew_stats' formula over the index instead of a table column
    Gate("ann7_cell_stats", ann7CellStats, ivfCellStatsSql),
    // D18: the char-granular keep-first removal recomputed from scratch
    // — substring windows, global first occurrence (doc, pos), covered-
    // position union, character-level anti join, ordered reassembly
    // (d13's SQL with substr windows replacing word grams)
    Gate("d18_char_dedup_rewrite", d18CharDedupRewrite,
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 1500),
        |g AS (SELECT doc_id, u.p AS p, u.s AS s FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 18),
        |    i -> {'p': i, 's': substr(text, i, 20)})) AS u
        |  FROM t WHERE length(text) >= 20)),
        |occ AS (SELECT doc_id, p, ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn FROM g),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 20)) AS i FROM occ WHERE rn > 1),
        |ch AS (SELECT doc_id, u.i AS i, u.c AS c FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
        |    i -> {'i': i, 'c': substr(text, i, 1)})) AS u FROM t)),
        |kept AS (SELECT ch.doc_id, ch.i, ch.c FROM ch ANTI JOIN cov
        |  ON ch.doc_id = cov.doc_id AND ch.i = cov.i),
        |outp AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(c, '' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(clean_text, '') AS clean_text
        |FROM t LEFT JOIN outp ON t.doc_id = outp.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // S-PUBLISH-ZORDER: clustering is a layout flip only — same clean-
    // table oracle as the publish/compact family
    Gate("s_publish_zorder", sPublishZorder,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // D19: per-source boilerplate election (≥ 3 distinct docs of the
    // same source share the 5-gram) recomputed from scratch; removal
    // has NO keep-first exception — every occurrence drops.
    // D20 shares this oracle verbatim: the at-rest store path over a
    // fresh base install IS the batch operator (summed per-batch
    // distinct-doc counts with one batch = the batch's counts), so the
    // two entries can only stay green together.
    Gate("d19_boilerplate", d19Boilerplate, boilerplateSql),
    // M13: the classifier gate's pinned held-out grid — ids and labels
    // are pure id arithmetic, flags must all be 1 (r1_sample pattern)
    Gate("m13_quality_filter", m13QualityFilter,
      """WITH h AS (
        |  SELECT doc_id, 1 AS label FROM documents WHERE doc_id % 2 <> 0
        |  UNION ALL
        |  SELECT 1000000 + i AS doc_id, 0 AS label FROM range(0, 100) r(i)
        |  WHERE (1000000 + i) % 2 <> 0)
        |SELECT doc_id, label, 1 AS p_ok, 1 AS sep_ok FROM h
        |ORDER BY doc_id""".stripMargin),
    Gate("d20_boilerplate_store", d20BoilerplateStore, boilerplateSql),
    Gate("t20_gopher_rules", t20GopherRules, gopherSql),
    Gate("ann8_pq_adc", ann8PqAdc, annGateSql),
    Gate("ann9_pq_store", ann9PqStore, annGateSql),
    // R8: DSIR selection — bucket = first two md5 hex digits (strpos
    // arithmetic here, conv() engine-side); ranking on the 6-dp-rounded
    // weight so ulp-order summation differences can't move the cut
    Gate("r8_dsir_select", r8DsirSelect,
      s"""WITH ${dsirCtes("documents")}
        |$dsirSelect
        |LIMIT 100""".stripMargin),
    // the gopher→DSIR composite: both chains' CTEs in one WITH, the
    // DSIR pool being the gopher-kept docs (filter before selection)
    Gate("llm_select_pipeline", llmSelectPipeline,
      s"""WITH ${gopherCtes("documents")},
        |kept AS (SELECT d.* FROM documents d
        |  JOIN (SELECT doc_id FROM f WHERE $gopherKeepRules) k USING (doc_id)),
        |${dsirCtes("kept")}
        |$dsirSelect
        |LIMIT 50""".stripMargin),
    Gate("ann10_ivf_pq", ann10IvfPq, annGateSql),
    // T21: the merge list is corpus-derived (no SQL twin) — the oracle
    // pins ids, word counts, and the detok/bounds invariants at 1
    Gate("t21_bpe_encode", t21BpeEncode,
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(1 AS BIGINT) AS detok_ok, CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),
    // T22: the per-(source, lang) corpus datasheet — quality uses the
    // t12-proven formula + interpolation pair, dup flags the shared
    // fingerprint rule; integer sums CAST (gotcha 19)
    Gate("t22_corpus_card", t22CorpusCard,
      """WITH t AS (SELECT doc_id, source, lang, text,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ntok,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id, source, lang, fp, ntok,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS q
        |  FROM t),
        |d AS (SELECT *, CASE WHEN count(*) OVER (PARTITION BY fp) > 1
        |  THEN 1 ELSE 0 END AS dup FROM q)
        |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS tok_total,
        |  CAST(sum(CAST(q AS DECIMAL(16,6))) AS DOUBLE) AS q_sum,
        |  min(q) AS q_min, max(q) AS q_max,
        |  CAST(sum(dup) AS BIGINT) AS dup_docs
        |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin),
    // M14: m8's PSI recompute over text-quality scores of two corpus
    // slices (same quality formula as t12's oracle)
    Gate("m14_text_drift", m14TextDrift,
      """WITH scored AS (SELECT doc_id,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS v
        |  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)),
        |expected AS (SELECT v FROM scored WHERE doc_id % 3 <> 0),
        |actual AS (SELECT v FROM scored WHERE doc_id % 3 = 0),
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
    // t23 is the SAME semantics through the at-rest eval-gram store
    // (Bloom sidecar + exact verify) — store-equals-live is the
    // contract the shared oracle enforces, like d11/d20
    Gate("t23_decontam_store", t23DecontamStore, decontamRewriteSql),
    // the streaming ingest loop publishes what the direct rewrite
    // computes (streamed ≡ direct, now on the hard signal)
    Gate("t29_decontam_stream", t29DecontamStream, decontamRewriteSql),
    // M15: the release gate — t22's card per snapshot side + m14's PSI
    // chain + the FULL decision rule (hard: vanished group / share
    // collapse past 50% / dup-rate jump past 0.10 / psi ≥ 0.25; soft
    // evidence — appeared group or share moved past 25% — escalates
    // the psi watch band [0.1, 0.25)) recomputed in one WITH. Divides
    // guard with greatest(·, 1) exactly where the engine branches on
    // zero counts, so the arithmetic is identical on both sides.
    Gate("m15_release_gate", m15ReleaseGate,
      """WITH t AS (SELECT doc_id, source, lang, text,
        |  CASE WHEN doc_id % 3 = 0 THEN 'a' ELSE 'e' END AS side,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id, source, lang, side, fp,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS v
        |  FROM t),
        |d AS (SELECT *, CASE WHEN count(*) OVER (PARTITION BY side, fp) > 1
        |  THEN 1 ELSE 0 END AS dup FROM q),
        |card AS (SELECT source, lang,
        |  CAST(sum(CASE WHEN side = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_e,
        |  CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_a,
        |  CAST(sum(CASE WHEN side = 'e' THEN dup ELSE 0 END) AS BIGINT) AS dup_docs_e,
        |  CAST(sum(CASE WHEN side = 'a' THEN dup ELSE 0 END) AS BIGINT) AS dup_docs_a
        |  FROM d GROUP BY source, lang),
        |expected AS (SELECT v FROM q WHERE side = 'e'),
        |actual AS (SELECT v FROM q WHERE side = 'a'),
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
        |             CASE WHEN a = 0 THEN 0.0001 ELSE a END AS a FROM j),
        |psiv AS (SELECT round(sum((a - e) * ln(a / e)), 6) AS psi FROM c),
        |tot AS (SELECT greatest(sum(n_docs_e), 1) AS te,
        |  greatest(sum(n_docs_a), 1) AS ta FROM card),
        |flags AS (SELECT
        |  max(CASE WHEN n_docs_e > 0 AND n_docs_a = 0 THEN 1
        |    WHEN n_docs_e > 0 AND n_docs_a * 1.0 / ta < n_docs_e * 1.0 / te * 0.5 THEN 1
        |    WHEN n_docs_e > 0 AND dup_docs_a * 1.0 / greatest(n_docs_a, 1)
        |      - dup_docs_e * 1.0 / greatest(n_docs_e, 1) > 0.10 THEN 1
        |    ELSE 0 END) AS hard,
        |  max(CASE WHEN n_docs_e = 0 AND n_docs_a > 0 THEN 1
        |    WHEN n_docs_e > 0 AND abs(n_docs_a * 1.0 / ta - n_docs_e * 1.0 / te)
        |      > 0.25 * (n_docs_e * 1.0 / te) THEN 1
        |    ELSE 0 END) AS soft
        |  FROM card, tot),
        |verdict AS (SELECT psi,
        |  CAST(CASE WHEN psi >= 0.25 OR hard = 1 THEN 0
        |    WHEN psi >= 0.1 AND soft = 1 THEN 0 ELSE 1 END AS BIGINT) AS accept
        |  FROM flags, psiv)
        |SELECT source, lang, n_docs_e, n_docs_a, dup_docs_e, dup_docs_a,
        |  psi, accept
        |FROM card, verdict ORDER BY source, lang""".stripMargin),
    // M16: incremental ≡ full — the oracle recomputes t20's Gopher
    // rules over the FULL edited new snapshot; the engine only
    // reprocessed the changed+added sliver and carried `same` rows
    // forward, so a stale carry, a double-processed doc, or a missed
    // moved doc all hash-fail
    Gate("m16_incremental_reproc", m16IncrementalReproc,
      s"""WITH newsnap AS (SELECT doc_id,
         |  CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
         |  FROM documents WHERE doc_id % 5 <> 0),
         |${gopherCtes("newsnap")}
         |SELECT *, CAST(CASE WHEN $gopherKeepRules THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f ORDER BY doc_id""".stripMargin),
    // ANN11: the maintenance contract — after tombstone + re-embed the
    // index's LIVE rows are exactly the new snapshot's vectors. Spark
    // reads them back out of the index files; DuckDB recomputes the
    // integer-grid embedding of the new snapshot directly (elements
    // < 97 are float-exact, sums exact in double — no rounding needed)
    Gate("ann11_incremental_reembed", ann11IncrementalReembed,
      """WITH new_snap AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0,8),
        |    i -> (length(text)*31 + doc_id*17 + i*7) % 97)) AS DOUBLE) AS vec_l1,
        |  CAST((length(text)*31 + doc_id*17) % 97 AS DOUBLE) AS v0
        |FROM new_snap ORDER BY doc_id""".stripMargin),
    // R12: the distributed global rank's degenerate one-group case vs
    // DuckDB's plain row_number — any offset misalignment shifts every
    // position
    Gate("r12_curriculum_order", r12CurriculumOrder,
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY length(text), doc_id) AS BIGINT)
        |    AS position
        |FROM documents ORDER BY doc_id""".stripMargin),
    // T24: the CCNet-style interpolated bigram LM — counts, the
    // md5-tiebroken caps, and the per-position interpolation
    // recomputed from scratch. `(1 - 0.7)` is written as the
    // SUBTRACTION, not 0.3: the engine evaluates the double
    // 1 - 0.7 = 0.30000000000000004, and the oracle must evaluate the
    // identical bits or every 6-dp score is one ULP of drift away
    // from a hash miss.
    Gate("t24_bigram_lm", t24BigramLm,
      (bigramLmCtes +
      """
        |SELECT t.id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  sc.avg_logp
        |FROM tok t LEFT JOIN scored sc ON t.id = sc.id
        |ORDER BY t.id""".stripMargin)),
    // T25: head/middle/tail per language over the t24 score; thirds by
    // exact integer arithmetic so the boundary cannot drift
    Gate("t25_ccnet_buckets", t25CcnetBuckets,
      (bigramLmCtes +
      """,
        |bk AS (SELECT sc.id, d.lang, sc.avg_logp,
        |  row_number() OVER (PARTITION BY d.lang
        |    ORDER BY sc.avg_logp DESC, sc.id) AS rk,
        |  count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM scored sc JOIN documents d ON sc.id = d.doc_id)
        |SELECT lang,
        |  CASE WHEN (rk - 1) * 3 < n - 1 THEN 'head'
        |    WHEN (rk - 1) * 3 < (n - 1) * 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(avg_logp AS DECIMAL(20,6))) AS DOUBLE) AS logp_sum
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),
    // R9: the fingerprint-keyed md5-threshold split — 25% test =
    // threshold '4000…' (the r2 convention); distinct-fingerprint
    // counts pin the group-keyed-ness
    Gate("r9_leakage_split", r9LeakageSplit,
      """WITH b AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |s AS (SELECT doc_id, fp,
        |  CASE WHEN md5(fp || 'split')
        |    < '40000000000000000000000000000000' THEN 'test'
        |    ELSE 'train' END AS split FROM b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_groups
        |FROM s GROUP BY split ORDER BY split""".stripMargin),
    // R10: UniMax water filling replayed as a recursive CTE (languages
    // in ascending-capacity order, alloc = min(cap, remaining //
    // left)), doc census as full epochs + an md5-rank window-cumsum
    // prefix — every step integer, so the replay is bit-for-bit
    Gate("r10_unimax", r10Unimax,
      """WITH RECURSIVE t AS (SELECT doc_id AS id, lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok
        |  FROM documents),
        |lt AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS tot,
        |  CAST(count(*) AS BIGINT) AS nd FROM t GROUP BY lang),
        |caps AS (SELECT lang, tot, nd, 2 * tot AS cap,
        |  CAST(row_number() OVER (ORDER BY 2 * tot, lang) AS BIGINT) AS rk,
        |  CAST(count(*) OVER () AS BIGINT) AS nl FROM lt),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS rk, CAST(100000 AS BIGINT) AS remaining,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS cap,
        |    CAST(0 AS BIGINT) AS alloc
        |  UNION ALL
        |  SELECT c.rk,
        |    r.remaining - least(c.cap, r.remaining // (c.nl - c.rk + 1)),
        |    c.lang, c.cap, least(c.cap, r.remaining // (c.nl - c.rk + 1))
        |  FROM rec r JOIN caps c ON c.rk = r.rk + 1),
        |q AS (SELECT rec.lang, rec.cap, rec.alloc, lt.tot, lt.nd,
        |  rec.alloc // lt.tot AS ep, rec.alloc % lt.tot AS rem
        |  FROM rec JOIN lt ON rec.lang = lt.lang WHERE rec.rk > 0),
        |ranked AS (SELECT lang, doc_id AS id, ntok,
        |  sum(ntok) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'unimax'), doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok
        |    FROM documents)),
        |part AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS pn,
        |  CAST(sum(r.ntok) AS BIGINT) AS ptok
        |  FROM ranked r JOIN q ON r.lang = q.lang WHERE r.cum <= q.rem
        |  GROUP BY r.lang)
        |SELECT q.lang, q.cap AS cap_toks, q.alloc AS alloc_toks,
        |  CAST(q.ep * q.nd + coalesce(p.pn, 0) AS BIGINT) AS n_docs_sel,
        |  CAST(q.ep * q.tot + coalesce(p.ptok, 0) AS BIGINT) AS tok_sel
        |FROM q LEFT JOIN part p ON q.lang = p.lang
        |ORDER BY q.lang""".stripMargin),
    // LLM_CCNET: the target-trained variant of the t24 chain — model
    // CTEs read the src0 slice, scoring reads the whole corpus, then
    // t25's integer thirds + the head/middle keep. Same FP-order and
    // DECIMAL-sum conventions as t24/t25.
    Gate("llm_ccnet_pipeline", llmCcnetPipeline,
      (targetBigramLmCtes +
      """,
        |bk AS (SELECT sc.id, t.lang, sc.avg_logp,
        |  row_number() OVER (PARTITION BY t.lang
        |    ORDER BY sc.avg_logp DESC, sc.id) AS rk,
        |  count(*) OVER (PARTITION BY t.lang) AS n
        |  FROM scored sc JOIN tok t ON sc.id = t.id
        |  WHERE sc.avg_logp IS NOT NULL)
        |SELECT lang,
        |  CASE WHEN (rk - 1) * 3 < n - 1 THEN 'head'
        |    WHEN (rk - 1) * 3 < (n - 1) * 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(avg_logp AS DECIMAL(20,6))) AS DOUBLE) AS logp_sum,
        |  CAST(CASE WHEN (CASE WHEN (rk - 1) * 3 < n - 1 THEN 'head'
        |    WHEN (rk - 1) * 3 < (n - 1) * 2 THEN 'middle'
        |    ELSE 'tail' END) <> 'tail' THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM bk GROUP BY lang, bucket, kept ORDER BY lang, bucket""".stripMargin)),
    // T26: the SAME target-trained scoring through the at-rest model
    // store — store ≡ live is the contract, so the oracle recomputes
    // the llm_ccnet chain's per-doc scores in full
    Gate("t26_bigram_lm_store", t26BigramLmStore,
      (targetBigramLmCtes +
      """
        |SELECT t.id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  sc.avg_logp
        |FROM tok t LEFT JOIN scored sc ON t.id = sc.id
        |ORDER BY t.id""".stripMargin)),
    // T27: the doc-level crawl diff — fingerprint classification over
    // the full-outer id join, recomputed from scratch (the canonical
    // form is the dedup family's)
    Gate("t27_snapshot_diff", t27SnapshotDiff,
      """WITH e AS (SELECT doc_id AS id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0),
        |a AS (SELECT doc_id AS id,
        |  md5(trim(regexp_replace(lower(
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END),
        |    '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (SELECT coalesce(e.id, a.id) AS id,
        |  CASE WHEN e.id IS NULL THEN 'added'
        |    WHEN a.id IS NULL THEN 'removed'
        |    WHEN e.fp IS NOT DISTINCT FROM a.fp THEN 'same'
        |    ELSE 'changed' END AS status
        |  FROM e FULL OUTER JOIN a ON e.id = a.id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs
        |FROM j GROUP BY status ORDER BY status""".stripMargin),
    // T28: per-doc distinct-gram overlap vs the src0 reference,
    // recomputed on RAW gram strings (the d9 convention against the
    // engine's 128-bit hashes); division order mirrored exactly
    Gate("t28_ngram_novelty", t28NgramNovelty,
      """WITH c AS (SELECT doc_id AS id,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |  WHERE source <> 'src0'),
        |r AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE source = 'src0'),
        |dg AS (SELECT DISTINCT id, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS g
        |  FROM c WHERE len(ws) >= 5),
        |rg AS (SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 3),
        |    i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS g
        |  FROM r WHERE len(ws) >= 5),
        |tot AS (SELECT id, count(*) AS n_grams FROM dg GROUP BY id),
        |mat AS (SELECT id, count(*) AS n_matched FROM dg SEMI JOIN rg
        |  ON dg.g = rg.g GROUP BY id)
        |SELECT c.id, CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
        |  CASE WHEN coalesce(t.n_grams, 0) > 0
        |    THEN round(1.0 - coalesce(m.n_matched, 0) / t.n_grams, 6)
        |    ELSE NULL END AS novelty
        |FROM c LEFT JOIN tot t ON c.id = t.id
        |LEFT JOIN mat m ON c.id = m.id
        |ORDER BY c.id""".stripMargin),
    Gate("r11_cluster_split", r11ClusterSplit, clusterSplitSql),
    // MM3: every video row is a 4-frame 25-fps Y4M (160 ms), sampled
    // at one frame per 80 ms → offsets {0, 80}, sample_idx {0, 1},
    // src_frame_idx {0, 2} (offset·fps/1000 — the SOURCE frame at the
    // timestamp, distinct from the sample ordinal); the decoded frame
    // count is pinned 4 — a truncated frame walk or a row falling to
    // the undecodable marker breaks the value
    Gate("mm3_frame_sample", mm3FrameSample,
      """WITH v AS (SELECT doc_id AS media_id FROM documents
        |  WHERE doc_id % 3 = 2),
        |off AS (SELECT unnest([0, 80]) AS offset_ms)
        |SELECT media_id, CAST(offset_ms AS BIGINT) AS offset_ms,
        |  CAST(offset_ms // 80 AS BIGINT) AS sample_idx,
        |  CAST(offset_ms * 25 // 1000 AS BIGINT) AS src_frame_idx,
        |  4 AS n_frames_decoded
        |FROM v, off ORDER BY media_id, sample_idx""".stripMargin),
    // R13: DoReMi domain weights — bucket counts, the three windowed
    // totals, the per-token KL excess (rounded BEFORE the exponential,
    // the r8 ulp rule), and the smoothed one-EG-step softmax all
    // replayed in one WITH-chain
    Gate("r13_doremi", r13Doremi,
      s"""WITH $doremiCtes
        |SELECT source AS domain, n_grams, excess, weight FROM mw
        |ORDER BY domain""".stripMargin),
    // The weights APPLIED: floor(200·w) ≥ 1 quota per domain, rows
    // picked by the engine-portable md5 rank (the r4 idiom)
    Gate("llm_doremi_mix", llmDoremiMix,
      s"""WITH $doremiCtes,
        |mq AS (SELECT source, greatest(1, CAST(floor(200 * weight) AS BIGINT)) AS quota FROM mw),
        |mr AS (SELECT dd.source, dd.doc_id, ROW_NUMBER() OVER (PARTITION BY dd.source
        |    ORDER BY md5(CAST(dd.doc_id AS VARCHAR)), dd.doc_id) AS rk
        |  FROM documents dd)
        |SELECT mr.source, mr.doc_id FROM mr JOIN mq ON mr.source = mq.source
        |WHERE rk <= quota ORDER BY mr.source, mr.doc_id""".stripMargin),
    // DoReMi tokenize-once composite: the mix chain plus a per-doc
    // token census joined onto the selection (census convention:
    // len(split(trim(text))) — the r10 rule)
    Gate("llm_doremi_pipeline", llmDoremiPipeline,
      s"""WITH $doremiCtes,
        |mq AS (SELECT source, greatest(1, CAST(floor(200 * weight) AS BIGINT)) AS quota FROM mw),
        |mr AS (SELECT dd.source, dd.doc_id, ROW_NUMBER() OVER (PARTITION BY dd.source
        |    ORDER BY md5(CAST(dd.doc_id AS VARCHAR)), dd.doc_id) AS rk
        |  FROM documents dd),
        |cen AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT mr.source, mr.doc_id, cen.n_tok
        |FROM mr JOIN mq ON mr.source = mq.source
        |  JOIN cen ON mr.doc_id = cen.doc_id
        |WHERE rk <= quota ORDER BY mr.source, mr.doc_id""".stripMargin),
    // T30: char entropy — the native kernel vs a per-char group-count
    // replay; H = ln N − (Σ n·ln n)/N, rounded 6 dp on both sides
    Gate("t30_char_entropy", t30CharEntropy,
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
        |e AS (SELECT doc_id,
        |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy
        |  FROM cc GROUP BY doc_id)
        |SELECT doc_id, char_entropy,
        |  CAST(char_entropy >= 2.85 AS INTEGER) AS keep
        |FROM e ORDER BY doc_id""".stripMargin),
    // D21: prototypicality, one-cell degenerate case — centroid = the
    // per-dim mean embedding; cosine rounded 6 dp BEFORE ranking (the
    // dsir rule), drop = the ceil(0.3·n) most prototypical
    Gate("d21_prototypicality", d21Prototypicality,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cm AS (SELECT i, avg(v[i]) AS mv FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
        |mv AS (SELECT list(mv ORDER BY i) AS m FROM cm),
        |sc AS (SELECT vec_id, round(list_cosine_similarity(v, m), 6) AS proto_sim FROM e, mv),
        |rk AS (SELECT vec_id, proto_sim,
        |  row_number() OVER (ORDER BY proto_sim DESC, vec_id) AS rank,
        |  count(*) OVER () AS n FROM sc)
        |SELECT vec_id, proto_sim, CAST(rank AS BIGINT) AS rank,
        |  CAST(rank > ceil(0.3 * n) AS INTEGER) AS kept
        |FROM rk ORDER BY vec_id""".stripMargin),
    // The D4 pipeline: d8's keeper closure chained into d21's
    // mean-prototype rank — dedup survivors only, then the 30% drop
    Gate("llm_d4_pipeline", llmD4Pipeline,
      s"""WITH RECURSIVE $semanticKeeperCtes,
        |keep AS (SELECT ee.vec_id, ee.v FROM e ee LEFT JOIN comp c ON ee.vec_id = c.cid
        |  WHERE c.cluster_id IS NULL OR c.cluster_id = ee.vec_id),
        |cm AS (SELECT i, avg(v[i]) AS mv FROM keep, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
        |mv AS (SELECT list(mv ORDER BY i) AS m FROM cm),
        |sc AS (SELECT vec_id, round(list_cosine_similarity(v, m), 6) AS proto_sim FROM keep, mv),
        |rk AS (SELECT vec_id, proto_sim,
        |  row_number() OVER (ORDER BY proto_sim DESC, vec_id) AS rank,
        |  count(*) OVER () AS n FROM sc)
        |SELECT vec_id, proto_sim, CAST(rank AS BIGINT) AS rank,
        |  CAST(rank > ceil(0.3 * n) AS INTEGER) AS kept
        |FROM rk ORDER BY vec_id""".stripMargin),
    // T31: C4 line cleaning — the gate's (doc_id, line_idx)-keyed
    // multi-line construction replayed (5-word lines, %3 punct drop,
    // %7 javascript tail, %13 lorem / %17 curly closing line), then
    // every line and page rule recomputed on the synthesized text
    Gate("t31_c4_line_clean", t31C4LineClean,
      """WITH c4t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |c4l AS (SELECT doc_id, list_transform(
        |    range(1, greatest(CAST(ceil(len(ws) / 5.0) AS BIGINT), 1) + 1),
        |    i -> array_to_string(list_slice(ws, (i-1)*5 + 1, (i-1)*5 + 5), ' ')
        |      || CASE WHEN (doc_id + i) % 7 = 0 THEN ' javascript break' ELSE '' END
        |      || CASE WHEN (doc_id + i) % 3 < 2 THEN '.' ELSE '' END) AS lns
        |  FROM c4t),
        |c4b AS (SELECT doc_id, array_to_string(lns, chr(10)) AS b FROM c4l),
        |c4m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN b || chr(10) || 'lorem ipsum dolor sit amet.'
        |         WHEN doc_id % 17 = 0 THEN b || chr(10) || 'const cfg = { a: 1 } now done.'
        |         WHEN doc_id % 19 = 0 THEN b || chr(10) || 'this page has badword content today.'
        |         ELSE b END AS mt FROM c4b),
        |c4s AS (SELECT doc_id, mt, string_split(mt, chr(10)) AS ls FROM c4m),
        |c4k AS (SELECT doc_id, mt, ls,
        |    list_filter(ls, l -> regexp_matches(trim(l), '[.!?"'']$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM c4s)
        |SELECT doc_id, CAST(len(ls) AS INTEGER) AS total_lines,
        |  CAST(len(kept) AS INTEGER) AS kept_lines,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  CAST(NOT contains(lower(mt), 'lorem ipsum') AND NOT contains(mt, '{')
        |    AND NOT contains(mt, '}') AND NOT contains(lower(mt), 'badword')
        |    AND len(kept) >= 3 AS INTEGER) AS keep
        |FROM c4k ORDER BY doc_id""".stripMargin),
    // LLM_CURRICULUM: the target-trained LM chain feeding a global
    // easy-first row_number — CCNet score as curriculum difficulty;
    // any scoring drift or rank-offset misalignment shifts positions
    Gate("llm_curriculum_pipeline", llmCurriculumPipeline,
      (targetBigramLmCtes +
      """,
        |pos AS (SELECT id, avg_logp,
        |  row_number() OVER (ORDER BY avg_logp DESC, id) AS position
        |  FROM scored WHERE avg_logp IS NOT NULL)
        |SELECT id AS doc_id, avg_logp, CAST(position AS BIGINT) AS position
        |FROM pos ORDER BY doc_id""".stripMargin)),
    // T32: Heaps'-law vocab growth — bucket = (rank−1)·10 div N + 1
    // in doc_id order, cumulative distinct = tokens first seen in
    // buckets 1..b; all-integer, no rounding
    Gate("t32_vocab_growth", t32VocabGrowth,
      """WITH vgr AS (SELECT doc_id, text,
        |    row_number() OVER (ORDER BY doc_id) AS rk,
        |    count(*) OVER () AS n FROM documents),
        |vgb AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> len(t) > 0) AS tks,
        |    (rk - 1) * 10 // n + 1 AS bucket FROM vgr),
        |vgt AS (SELECT bucket, unnest(tks) AS tok FROM vgb),
        |vgp AS (SELECT bucket, count(*) AS docs, sum(len(tks)) AS toks
        |  FROM vgb GROUP BY bucket),
        |vgf AS (SELECT tok, min(bucket) AS bucket FROM vgt GROUP BY tok),
        |vgn AS (SELECT bucket, count(*) AS new_tokens FROM vgf GROUP BY bucket)
        |SELECT vgp.bucket,
        |  CAST(sum(docs) OVER (ORDER BY vgp.bucket) AS BIGINT) AS docs_cum,
        |  CAST(sum(toks) OVER (ORDER BY vgp.bucket) AS BIGINT) AS tokens_cum,
        |  CAST(sum(coalesce(new_tokens, 0)) OVER (ORDER BY vgp.bucket) AS BIGINT) AS vocab_cum
        |FROM vgp LEFT JOIN vgn ON vgp.bucket = vgn.bucket
        |ORDER BY vgp.bucket""".stripMargin),
    // T33: HTML extraction — the gate's synthesized page replayed,
    // then the SAME chain: script/style/comment blocks out, tags →
    // space, entities decoded with &amp; LAST, whitespace collapsed
    Gate("t33_html_strip", t33HtmlStrip,
      """WITH hh AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || '</title><script type="text/javascript">var x = 1; if (x < 2) { x = 2; }</script><style>.c { color: red; }</style></head><body><!-- note ' || doc_id || ' --><h1>Heading</h1><p>' || text || '</p>'
        |  || CASE WHEN doc_id % 3 = 0 THEN '<p>See &lt;a&gt; &amp;amp; &quot;quotes&quot;&nbsp;here.</p>' ELSE '' END
        |  || CASE WHEN doc_id % 4 = 0 THEN '<a href="http://ex.com/' || doc_id || '">link text</a>' ELSE '' END
        |  || '</body></html>' AS h FROM documents),
        |hst AS (SELECT doc_id, h, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(h, '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g') AS s FROM hh),
        |htg AS (SELECT doc_id, h, regexp_replace(s, '<[^>]+>', ' ', 'g') AS s FROM hst),
        |hde AS (SELECT doc_id, h, replace(replace(replace(replace(replace(replace(s,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&') AS s FROM htg)
        |SELECT doc_id,
        |  trim(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1)) AS title,
        |  CAST((length(h) - length(replace(h, '<a href', ''))) // 7 AS INTEGER) AS n_links,
        |  trim(regexp_replace(s, '\s+', ' ', 'g')) AS text
        |FROM hde ORDER BY doc_id""".stripMargin),
    // D22: URL canonicalization chain replayed step for step (RE2
    // backrefs are \1 where Spark's are $1 — same semantics), then
    // latest-crawl-wins: row_number over (canon, ts desc, id desc)
    Gate("d22_url_dedup", d22UrlDedup,
      """WITH uu AS (SELECT doc_id, doc_id % 97 AS fetch_ts,
        |  'HTTPS://WWW.Site' || (doc_id % 7) || '.COM:443/Dir' || (doc_id % 50) || '/page'
        |  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |  || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || (doc_id % 5) ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN '#sec' || doc_id ELSE '' END AS url
        |  FROM documents),
        |uc1 AS (SELECT doc_id, fetch_ts,
        |  regexp_replace(regexp_replace(url, '#.*$', ''), '(?i)^https?://', '') AS ns FROM uu),
        |uc2 AS (SELECT doc_id, fetch_ts,
        |  regexp_replace(regexp_replace(lower(regexp_extract(ns, '^([^/?#]+)', 1)),
        |    '^www\.', ''), ':(80|443)$', '') AS host,
        |  regexp_replace(ns, '^[^/?#]+', '') AS pathq FROM uc1),
        |uc3 AS (SELECT doc_id, fetch_ts, host || regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(pathq, '(?i)[?&]utm_[^&#]*', '', 'g'),
        |    '^([^?]*)&', '\1?'), '[?&]$', ''), '^([^?]*)/$', '\1') AS canon_url
        |  FROM uc2),
        |ucr AS (SELECT canon_url, doc_id, fetch_ts,
        |  row_number() OVER (PARTITION BY canon_url ORDER BY fetch_ts DESC, doc_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY canon_url) AS n_crawls FROM uc3)
        |SELECT canon_url, doc_id, fetch_ts, n_crawls
        |FROM ucr WHERE rn = 1 ORDER BY canon_url""".stripMargin),
    // ANN12: hard negatives — ann1's brute-force chain with the
    // cross-label predicate; the negative's label rides in the output
    Gate("ann12_hard_negatives", ann12HardNegatives,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, label AS ql FROM e WHERE vec_id % 37 = 0),
        |scored AS (SELECT q_id, e.vec_id AS n_id, e.label AS n_label,
        |  list_cosine_similarity(qv, e.v) AS cos
        |  FROM q, e WHERE e.label <> ql),
        |r AS (SELECT q_id, n_id, n_label, cos, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
        |SELECT q_id, rank, n_id, n_label, round(cos, 6) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // ANN13: CDC index maintenance — the oracle applies both mutation
    // batches' CASE logic to the corpus and recomputes the integer-grid
    // embedding of every LIVE doc (the ann11 embedding convention)
    Gate("ann13_cdc_maintenance", ann13CdcMaintenance,
      """WITH fin AS (SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 5 <> 0 AND doc_id % 13 = 0 AND doc_id % 3 = 0
        |      THEN text || ' v3'
        |    WHEN doc_id % 5 <> 0 AND doc_id % 13 = 0 THEN text || ' v2'
        |    WHEN doc_id % 5 <> 0 AND doc_id % 13 <> 0 AND doc_id % 17 = 0
        |      AND doc_id % 2 = 0 THEN text || ' back'
        |    ELSE text END AS t,
        |  CASE
        |    WHEN doc_id % 5 <> 0 THEN
        |      (doc_id % 13 = 0 OR doc_id % 17 <> 0 OR doc_id % 2 = 0)
        |    ELSE (doc_id % 2 = 0 AND doc_id % 3 <> 0) END AS live
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0,8),
        |    i -> (length(t)*31 + doc_id*17 + i*7) % 97)) AS DOUBLE) AS vec_l1,
        |  CAST((length(t)*31 + doc_id*17) % 97 AS DOUBLE) AS v0
        |FROM fin WHERE live ORDER BY doc_id""".stripMargin),
    // D23: streamed exact-dedup ingest — the keeper rule replayed over
    // (batch index, doc_id) per normalized fingerprint, landed slice's
    // fingerprints excluded (the store install)
    Gate("d23_dedup_stream", d23DedupStream,
      """WITH b AS (SELECT doc_id, n_chars, doc_id % 2 AS bi,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 31 <> 0),
        |landed AS (SELECT DISTINCT
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 31 = 0),
        |r AS (SELECT doc_id, n_chars, fp, ROW_NUMBER() OVER (
        |  PARTITION BY fp ORDER BY bi, doc_id) AS rn FROM b)
        |SELECT doc_id, n_chars FROM r
        |WHERE rn = 1 AND fp NOT IN (SELECT fp FROM landed)
        |ORDER BY doc_id""".stripMargin),
    // D24: streamed boilerplate ingest — the d19 election/coverage/
    // rewrite chain evaluated at each batch's HORIZON (landed+evens
    // for batch 1, everything for batch 2; bi -1 = landed store
    // install, never published)
    Gate("d24_boilerplate_stream", d24BoilerplateStream,
      """WITH t AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 31 = 0 THEN -1 ELSE doc_id % 2 END AS bi,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, source, bi, u.p AS p, u.s AS s FROM (
        |  SELECT doc_id, source, bi, unnest(list_transform(range(1, len(ws) - 3),
        |    i -> {'p': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]})) AS u
        |  FROM t WHERE len(ws) >= 5)),
        |bcnt AS (SELECT source, s,
        |  count(DISTINCT CASE WHEN bi <= 0 THEN doc_id END) AS c0,
        |  count(DISTINCT doc_id) AS c1
        |  FROM g GROUP BY source, s),
        |cov AS (SELECT DISTINCT g.doc_id, unnest(range(g.p, g.p + 5)) AS i
        |  FROM g JOIN bcnt ON g.source = bcnt.source AND g.s = bcnt.s
        |  WHERE g.bi >= 0 AND
        |    ((g.bi = 0 AND bcnt.c0 >= 3) OR (g.bi = 1 AND bcnt.c1 >= 3))),
        |st AS (SELECT doc_id, ws FROM t WHERE bi >= 0),
        |tok AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'i': i, 'w': ws[i]})) AS u FROM st)),
        |kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok ANTI JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.i = cov.i),
        |outp AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(w, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id)
        |SELECT st.doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(clean_text, '') AS clean_text
        |FROM st LEFT JOIN outp ON st.doc_id = outp.doc_id
        |ORDER BY st.doc_id""".stripMargin),
    // D25: streamed near-dup ingest — sequential survivor semantics
    // replayed from one exact jaccard pair set: batch 1 (evens) drops
    // vs landed (bi -1) + within-batch smaller-id rule; batch 2 (odds)
    // drops vs landed + batch-1 SURVIVORS + within-batch rule
    Gate("d25_neardup_stream", d25NearDupStream,
      """WITH t AS (SELECT doc_id, n_chars,
        |  CASE WHEN doc_id % 31 = 0 THEN -1 ELSE doc_id % 2 END AS bi,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT id_a, id_b FROM pr
        |  JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM jp
        |  UNION ALL SELECT id_b, id_a FROM jp),
        |bt AS (SELECT doc_id, bi FROM t),
        |drop0 AS (SELECT DISTINCT e.s AS doc_id FROM edges e
        |  JOIN bt sb ON e.s = sb.doc_id AND sb.bi = 0
        |  JOIN bt xb ON e.d = xb.doc_id
        |  WHERE xb.bi = -1 OR (xb.bi = 0 AND xb.doc_id < e.s)),
        |surv0 AS (SELECT doc_id FROM bt WHERE bi = 0
        |  AND doc_id NOT IN (SELECT doc_id FROM drop0)),
        |drop1 AS (SELECT DISTINCT e.s AS doc_id FROM edges e
        |  JOIN bt sb ON e.s = sb.doc_id AND sb.bi = 1
        |  JOIN bt xb ON e.d = xb.doc_id
        |  WHERE xb.bi = -1
        |    OR (xb.bi = 0 AND xb.doc_id IN (SELECT doc_id FROM surv0))
        |    OR (xb.bi = 1 AND xb.doc_id < e.s)),
        |surv1 AS (SELECT doc_id FROM bt WHERE bi = 1
        |  AND doc_id NOT IN (SELECT doc_id FROM drop1))
        |SELECT doc_id, n_chars FROM t
        |WHERE doc_id IN (SELECT doc_id FROM surv0
        |  UNION ALL SELECT doc_id FROM surv1)
        |ORDER BY doc_id""".stripMargin),
    // T34: streamed LM-score ingest — the t26 target-trained chain plus
    // the kept-threshold on the 6-dp rounded score (both engines filter
    // the SAME rounded value, so the boundary cannot ulp-flip)
    Gate("t34_lm_stream", t34LmScoreStream,
      (targetBigramLmCtes +
      """
        |SELECT id, CAST(n_bigrams AS BIGINT) AS n_bigrams, avg_logp
        |FROM scored WHERE avg_logp IS NOT NULL AND avg_logp >= -3.6
        |ORDER BY id""".stripMargin)),
    // T35/T36: fuzzy decontamination — eval construction + cross-set
    // exact jaccard + max-per-doc flag in one chain (round(max) =
    // max(round) by monotonicity); t36 is the at-rest store path and
    // SHARES this oracle (store = live is the contract, the t23
    // convention)
    Gate("t35_fuzzy_decontam", t35FuzzyDecontam, fuzzyDecontamSql),
    // MM4/MM7/MM8: perceptual image / audio / video dedup — one shared
    // oracle replaying the group structure every fingerprint is
    // CONTRACTED to mirror (text equality + the planted %5 twin
    // arithmetic: brightness shift for images and video, ×2 gain for
    // audio); invariance, discrimination and keeper election all land
    // in one hash
    Gate("mm4_image_dedup", (s, d) => mediaDupGroups(s, d, imageFixture),
      mediaDupGroupsSql),
    // MM5: at-rest image dedup — keeper rule replayed on text equality
    // (what the dHash is contracted to mirror); store slice excluded,
    // min-id election within the batch
    Gate("mm5_image_dedup_store", mm5ImageDedupStore,
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
        |st AS (SELECT DISTINCT text FROM t WHERE doc_id % 31 = 0),
        |b AS (SELECT doc_id AS media_id, text FROM t WHERE doc_id % 31 <> 0
        |  UNION ALL SELECT doc_id + 500000000, text FROM t
        |  WHERE doc_id % 31 = 0 AND doc_id % 10 = 0),
        |k AS (SELECT media_id,
        |  CASE WHEN media_id = min(media_id) OVER (PARTITION BY text)
        |    AND text NOT IN (SELECT text FROM st) THEN 1 ELSE 0 END AS kept
        |  FROM b)
        |SELECT media_id, kept FROM k ORDER BY media_id""".stripMargin),
    Gate("mm7_audio_dedup", (s, d) => mediaDupGroups(s, d, audioFixture),
      mediaDupGroupsSql),
    // Decontam REPORT: both channels vs t35's suite + the policy CASE
    // (drop > rewrite > clean) in one chain; the exact channel is
    // t10's >= 2-shared-grams rule, the fuzzy channel t35's whole-doc
    // jaccard; `pr` feeds BOTH (shared distinct-gram counts)
    Gate("llm_decontam_report", llmDecontamReport,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |ev AS (SELECT doc_id + 500000000 AS doc_id,
        |  regexp_split_to_array(trim(CASE WHEN doc_id % 2 = 0
        |    THEN text || ' extra' ELSE text END), '\s+') AS ws
        |  FROM documents WHERE doc_id % 97 = 0),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM t),
        |she AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM ev),
        |pr AS (SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS shared
        |  FROM shc c JOIN she e ON c.s = e.s GROUP BY 1, 2),
        |ex AS (SELECT doc_id, max(shared) AS max_shared, count(*) AS n_eval_hits
        |  FROM pr WHERE shared >= 2 GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
        |sze AS (SELECT doc_id, count(*) AS sz FROM she GROUP BY doc_id),
        |jp AS (SELECT pr.doc_id, shared * 1.0 / (sa.sz + sb.sz - shared) AS j
        |  FROM pr JOIN sze sa ON pr.eval_id = sa.doc_id
        |  JOIN szc sb ON pr.doc_id = sb.doc_id
        |  WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.8),
        |hits AS (SELECT doc_id, round(max(j), 6) AS eval_jaccard FROM jp GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(ex.max_shared, 0) AS max_shared,
        |  coalesce(ex.n_eval_hits, 0) AS n_eval_hits, h.eval_jaccard,
        |  CASE WHEN h.doc_id IS NOT NULL THEN 'drop'
        |       WHEN coalesce(ex.max_shared, 0) >= 2 THEN 'rewrite'
        |       ELSE 'clean' END AS status
        |FROM t LEFT JOIN ex ON t.doc_id = ex.doc_id
        |LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    Gate("mm8_video_dedup", (s, d) => mediaDupGroups(s, d, videoFixture),
      mediaDupGroupsSql),
    // T37: integer-exact PageRank, all 3 Jacobi iterations UNROLLED —
    // floor division + integer sums are the kernel's portability
    // design, so the replay is bit-exact with no float tolerance
    Gate("t37_link_rank", t37LinkRank,
      """WITH nn AS (SELECT doc_id AS id FROM documents WHERE doc_id < 2000),
        |mc AS (SELECT count(*) AS m FROM nn),
        |e AS (SELECT id AS src, (id * 7 + 1) % (SELECT m FROM mc) AS dst FROM nn
        |  UNION ALL SELECT id, (id * 13 + 2) % (SELECT m FROM mc) FROM nn
        |  UNION ALL SELECT id, (id * 31 + 5) % (SELECT m FROM mc) FROM nn),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nn),
        |s1 AS (SELECT e.dst AS id, sum(r0.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s1 ON nn.id = s1.id),
        |s2 AS (SELECT e.dst AS id, sum(r1.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s2 ON nn.id = s2.id),
        |s3 AS (SELECT e.dst AS id, sum(r2.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r2 ON r2.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s3 ON nn.id = s3.id)
        |SELECT id AS doc_id, pr FROM r3 ORDER BY doc_id""".stripMargin),
    // Rank-weighted selection: t37's unrolled Jacobi chain + t30's
    // entropy recount joined into one ranked LIMIT (ties broken by id)
    Gate("llm_rank_select", llmRankSelect,
      """WITH nn AS (SELECT doc_id AS id FROM documents WHERE doc_id < 2000),
        |mc AS (SELECT count(*) AS m FROM nn),
        |e AS (SELECT id AS src, (id * 7 + 1) % (SELECT m FROM mc) AS dst FROM nn
        |  UNION ALL SELECT id, (id * 13 + 2) % (SELECT m FROM mc) FROM nn
        |  UNION ALL SELECT id, (id * 31 + 5) % (SELECT m FROM mc) FROM nn),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nn),
        |s1 AS (SELECT e.dst AS id, sum(r0.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s1 ON nn.id = s1.id),
        |s2 AS (SELECT e.dst AS id, sum(r1.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s2 ON nn.id = s2.id),
        |s3 AS (SELECT e.dst AS id, sum(r2.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r2 ON r2.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s3 ON nn.id = s3.id),
        |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE doc_id < 2000),
        |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
        |en AS (SELECT doc_id,
        |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy
        |  FROM cc GROUP BY doc_id)
        |SELECT r3.id AS doc_id, r3.pr, en.char_entropy
        |FROM r3 JOIN en ON r3.id = en.doc_id
        |WHERE en.char_entropy >= 2.85
        |ORDER BY r3.pr DESC, doc_id LIMIT 100""".stripMargin),
    // MM6: the streamed twin — cross-batch keeper rule (batch index =
    // id parity, batch 1 first), store slice excluded; published table
    // is the hashed surface, so order/append/publish slips all land
    Gate("mm6_image_dedup_stream",
      (s, d) => mediaDedupStream(s, d, imageFixture, "mm6_stream"),
      mediaDedupStreamSql),
    // LLM-RAG retrieval composite: chunk (t11's chain) -> integer-grid
    // embed (ann11's convention) -> IVF at nProbe = nCells (exact, the
    // ann14 replayability rule) -> top-3 with provenance; rank on
    // unrounded cosine with chunk-key tie-break, rounded on output
    Gate("llm_rag_pipeline", llmRagPipeline,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 1500),
        |st AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 24)) AS start
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_id,
        |  CAST(len(list_slice(ws, start + 1, start + 32)) AS BIGINT) AS n_tokens
        |  FROM st),
        |ck AS (SELECT doc_id, chunk_id, n_tokens,
        |  doc_id * 100000 + chunk_id AS chunk_key FROM ch),
        |ce AS (SELECT doc_id, chunk_id, n_tokens, chunk_key,
        |  list_transform(range(0, 8),
        |    i -> CAST((n_tokens * 31 + chunk_key * 17 + i * 7) % 97 AS DOUBLE)) AS v
        |  FROM ck),
        |q AS (SELECT unnest(range(0, 10)) AS query_id),
        |qv AS (SELECT query_id, list_transform(range(0, 8),
        |    i -> CAST((query_id * 13 + i * 5 + 3) % 97 AS DOUBLE)) AS v FROM q),
        |sc AS (SELECT query_id, chunk_key, doc_id, chunk_id, n_tokens,
        |  list_cosine_similarity(qv.v, ce.v) AS cos FROM qv, ce),
        |rk AS (SELECT query_id, doc_id, chunk_id, n_tokens, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, chunk_key ASC) AS rank
        |  FROM sc)
        |SELECT query_id, rank, doc_id, chunk_id, n_tokens, round(cos, 6) AS cos_sim
        |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    Gate("t36_fuzzy_decontam_store", t36FuzzyDecontamStore, fuzzyDecontamSql),
    // ANN15: streamed IVF ingest — after the base install + two
    // appended micro-batches the live index must serve the WHOLE
    // corpus's integer-grid embedding (the ann11 convention)
    Gate("ann15_ivf_stream", ann15IvfStream,
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0,8),
        |    i -> (length(text)*31 + doc_id*17 + i*7) % 97)) AS DOUBLE) AS vec_l1,
        |  CAST((length(text)*31 + doc_id*17) % 97 AS DOUBLE) AS v0
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ANN19: the PQ ingest loop — integer-grid embedding, every
    // subspace argmin (CASE order = the engine's first-minimum
    // tie-break), reconstruction norm from the grid's literal norm2
    // constants. The grid values are GENERATED from the same
    // f(j,c,t) = (j·13 + c·7 + t·3) mod 17 the engine installs
    // (pqGrid), so both sides recompute, neither copies.
    Gate("ann19_pq_stream", ann19PqStream, ann19PqSql),
    // ANN14: ANN-fed hard negatives — exact top-20 over-fetch replayed
    // as a candidate-rank window (unrounded cos, the bruteForceTopK
    // rule), then the label join + cross-label re-rank on the ROUNDED
    // cos_sim (the hardNegativesFromCandidates rule)
    Gate("ann14_hard_negatives_ann", ann14HardNegativesAnn,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, label AS ql FROM e WHERE vec_id % 37 = 0),
        |scored AS (SELECT q_id, ql, e.vec_id AS n_id, e.label AS n_label,
        |  list_cosine_similarity(qv, e.v) AS cos
        |  FROM q, e WHERE e.vec_id <> q_id),
        |cand AS (SELECT q_id, ql, n_id, n_label, round(cos, 6) AS cos_sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS crk
        |  FROM scored),
        |neg AS (SELECT q_id, n_id, n_label, cos_sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rank
        |  FROM cand WHERE crk <= 20 AND n_label <> ql)
        |SELECT q_id, rank, n_id, n_label, cos_sim
        |FROM neg WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // R14: length buckets — bit-length bucket, 2^bucket−1 pad
    // ceiling, within-bucket rank div 20; all integer arithmetic
    Gate("r14_length_buckets", r14LengthBuckets,
      """WITH lb AS (SELECT doc_id, greatest(len(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0)), 1) AS n_tok
        |  FROM documents),
        |lk AS (SELECT doc_id, n_tok, CAST(length(bin(n_tok)) AS BIGINT) AS bucket FROM lb),
        |lr AS (SELECT doc_id, n_tok, bucket,
        |  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rk FROM lk)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, bucket,
        |  CAST(power(2, bucket) AS BIGINT) - 1 AS pad_to,
        |  CAST((rk - 1) // 20 AS BIGINT) AS batch_idx
        |FROM lr ORDER BY doc_id""".stripMargin),
    // Web-ingest composite: t33's extraction chain + d22's URL
    // canonicalization + keep-latest window + t30's entropy replay,
    // all on the one synthesized crawl frame
    Gate("llm_web_pipeline", llmWebPipeline,
      """WITH whh AS (SELECT doc_id, doc_id % 97 AS fetch_ts,
        |  '<html><head><title>Doc ' || doc_id || '</title><script type="text/javascript">var x = 1; if (x < 2) { x = 2; }</script><style>.c { color: red; }</style></head><body><!-- note ' || doc_id || ' --><h1>Heading</h1><p>' || text || '</p>'
        |  || CASE WHEN doc_id % 3 = 0 THEN '<p>See &lt;a&gt; &amp;amp; &quot;quotes&quot;&nbsp;here.</p>' ELSE '' END
        |  || CASE WHEN doc_id % 4 = 0 THEN '<a href="http://ex.com/' || doc_id || '">link text</a>' ELSE '' END
        |  || '</body></html>' AS h,
        |  'HTTPS://WWW.Site' || (doc_id % 7) || '.COM:443/Dir' || (doc_id % 50) || '/page'
        |  || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |  || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || (doc_id % 5) ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN '#sec' || doc_id ELSE '' END AS url
        |  FROM documents),
        |wex AS (SELECT doc_id, fetch_ts, url, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(h, '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS xt FROM whh),
        |wc1 AS (SELECT doc_id, fetch_ts, xt,
        |  regexp_replace(regexp_replace(url, '#.*$', ''), '(?i)^https?://', '') AS ns FROM wex),
        |wc2 AS (SELECT doc_id, fetch_ts, xt,
        |  regexp_replace(regexp_replace(lower(regexp_extract(ns, '^([^/?#]+)', 1)),
        |    '^www\.', ''), ':(80|443)$', '') AS host,
        |  regexp_replace(ns, '^[^/?#]+', '') AS pathq FROM wc1),
        |wc3 AS (SELECT doc_id, fetch_ts, xt, host || regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(pathq, '(?i)[?&]utm_[^&#]*', '', 'g'),
        |    '^([^?]*)&', '\1?'), '[?&]$', ''), '^([^?]*)/$', '\1') AS canon_url
        |  FROM wc2),
        |wcr AS (SELECT doc_id, xt, canon_url,
        |  row_number() OVER (PARTITION BY canon_url ORDER BY fetch_ts DESC, doc_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY canon_url) AS n_crawls FROM wc3),
        |wsur AS (SELECT doc_id, canon_url, n_crawls, xt FROM wcr WHERE rn = 1),
        |wch AS (SELECT doc_id, unnest(string_split(xt, '')) AS c FROM wsur),
        |wcc AS (SELECT doc_id, c, count(*) AS n FROM wch GROUP BY doc_id, c),
        |wen AS (SELECT doc_id,
        |  round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy
        |  FROM wcc GROUP BY doc_id)
        |SELECT w.doc_id, canon_url, n_crawls, char_entropy,
        |  CAST(char_entropy >= 2.85 AS INTEGER) AS keep
        |FROM wsur w JOIN wen ON w.doc_id = wen.doc_id
        |ORDER BY w.doc_id""".stripMargin),
    // D26: the deterministic streaming exact-dedup transform — the
    // whitespace-twin construction replayed, then the keeper rule
    // rn = 1 over (batch ordinal, id) per normalized fingerprint.
    // Cross-batch twins catch a batch-blind global-min-id dedup;
    // negative-id same-batch twins catch an arrival-order
    // representative (the pre-round-15 dropDuplicatesWithinWatermark)
    Gate("d26_exact_dedup_stream", d26ExactDedupStream,
      """WITH aug AS (
        |  SELECT doc_id, text, n_chars,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS bi FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' ', n_chars, 1 FROM documents
        |  WHERE doc_id % 2 <> 0 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT -doc_id - 1, ' ' || text, n_chars, 1 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 11 = 0),
        |r AS (SELECT doc_id, n_chars, ROW_NUMBER() OVER (
        |  PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  ORDER BY bi, doc_id) AS rn FROM aug)
        |SELECT doc_id, n_chars FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // D27: the streaming corpus-ingest pipeline — keeper rule over the
    // cross-batch-twinned corpus, then the 6-dp quality and repetition
    // gates on the KEEPER's case-folded text, then per-language doc and
    // raw-text token counts in the one emitted event-time window
    Gate("d27_corpus_ingest_stream", d27CorpusIngestStream,
      """WITH aug AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS bi FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' ', lang, 1 FROM documents
        |  WHERE doc_id % 2 <> 0 AND doc_id % 7 = 0),
        |k AS (SELECT *, ROW_NUMBER() OVER (
        |  PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |  ORDER BY bi, doc_id) AS rn FROM aug),
        |s AS (SELECT lang, text, lower(text) AS lt,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM k WHERE rn = 1),
        |g AS (SELECT lang, text FROM s WHERE
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(lt) - length(regexp_replace(lt, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(lt), 1), 6) >= 0.655
        |  AND round(1.0 - len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 6) < 0.515)
        |SELECT '2024-03-01 00:00:00' AS win_start, lang,
        |  count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok_total
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin),
    // T38: the dangling-mass variant — %5 nodes have no outlinks; each
    // unrolled iteration adds the dangling rank sum's floor-divided
    // uniform share inside the damped term, exactly like the kernel
    Gate("t38_link_rank_dangling", t38LinkRankDangling,
      """WITH nn AS (SELECT doc_id AS id FROM documents WHERE doc_id < 2000),
        |mc AS (SELECT count(*) AS m FROM nn),
        |e AS (SELECT id AS src, (id * 7 + 1) % (SELECT m FROM mc) AS dst FROM nn WHERE id % 5 <> 0
        |  UNION ALL SELECT id, (id * 13 + 2) % (SELECT m FROM mc) FROM nn WHERE id % 5 <> 0
        |  UNION ALL SELECT id, (id * 31 + 5) % (SELECT m FROM mc) FROM nn WHERE id % 5 <> 0),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nn),
        |d0 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r0 WHERE id NOT IN (SELECT src FROM deg)),
        |s1 AS (SELECT e.dst AS id, sum(r0.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nn.id, CAST(150000000000 + (85 * (coalesce(s1.s, 0)
        |    + (SELECT dm FROM d0) // (SELECT m FROM mc))) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s1 ON nn.id = s1.id),
        |d1 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r1 WHERE id NOT IN (SELECT src FROM deg)),
        |s2 AS (SELECT e.dst AS id, sum(r1.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nn.id, CAST(150000000000 + (85 * (coalesce(s2.s, 0)
        |    + (SELECT dm FROM d1) // (SELECT m FROM mc))) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s2 ON nn.id = s2.id),
        |d2 AS (SELECT coalesce(sum(pr), 0) AS dm FROM r2 WHERE id NOT IN (SELECT src FROM deg)),
        |s3 AS (SELECT e.dst AS id, sum(r2.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r2 ON r2.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT nn.id, CAST(150000000000 + (85 * (coalesce(s3.s, 0)
        |    + (SELECT dm FROM d2) // (SELECT m FROM mc))) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s3 ON nn.id = s3.id)
        |SELECT id AS doc_id, pr FROM r3 ORDER BY doc_id""".stripMargin),
    // Rank-WEIGHTED draw: the unrolled Jacobi chain feeds the
    // Efraimidis–Spirakis priority — 24-bit md5 uniform via strpos hex
    // arithmetic (the shuffleShard portability rule), ln, 6-dp round,
    // top-200 by (priority, id)
    Gate("llm_rank_weighted_mix", llmRankWeightedMix,
      """WITH nn AS (SELECT doc_id AS id FROM documents WHERE doc_id < 2000),
        |mc AS (SELECT count(*) AS m FROM nn),
        |e AS (SELECT id AS src, (id * 7 + 1) % (SELECT m FROM mc) AS dst FROM nn
        |  UNION ALL SELECT id, (id * 13 + 2) % (SELECT m FROM mc) FROM nn
        |  UNION ALL SELECT id, (id * 31 + 5) % (SELECT m FROM mc) FROM nn),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM nn),
        |s1 AS (SELECT e.dst AS id, sum(r0.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s1 ON nn.id = s1.id),
        |s2 AS (SELECT e.dst AS id, sum(r1.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s2 ON nn.id = s2.id),
        |s3 AS (SELECT e.dst AS id, sum(r2.pr // deg.d) AS s FROM e
        |  JOIN deg ON e.src = deg.src JOIN r2 ON r2.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT nn.id, CAST(150000000000 + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS pr
        |  FROM nn LEFT JOIN s3 ON nn.id = s3.id),
        |pv AS (SELECT r3.id AS doc_id, r3.pr, d.lang,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef',
        |       substring(md5(CAST(r3.id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS v
        |  FROM r3 JOIN documents d ON d.doc_id = r3.id),
        |pp AS (SELECT doc_id, lang, pr,
        |  round(ln((v + 1) / 16777216.0) * 1e12 / pr, 6) AS priority FROM pv),
        |keep AS (SELECT * FROM pp ORDER BY priority DESC, doc_id LIMIT 200)
        |SELECT doc_id, lang, pr, priority FROM keep ORDER BY doc_id""".stripMargin),
    // MM9: the audio-modality streamed twin — SAME keeper-rule replay
    // as mm6 (the fingerprint is contracted to mirror text equality;
    // gain twins are invariance-dropped), proving the shared
    // store/stream seam end-to-end for a second modality
    Gate("mm9_audio_dedup_stream",
      (s, d) => mediaDedupStream(s, d, audioFixture, "mm9_stream"),
      mediaDedupStreamSql),
    // MM10: the video-modality streamed twin — the trio's third member
    // on the SAME keeper-rule replay (frames derive per-text, so the
    // fingerprint mirrors text equality; +16 brightness twins are
    // invariance-dropped), closing the store/stream seam for all three
    Gate("mm10_video_dedup_stream",
      (s, d) => mediaDedupStream(s, d, videoFixture, "mm10_stream"),
      mediaDedupStreamSql),
    // D28: SoftDeDup reweighting — canonical md5 commonness and the
    // rounded 1/n weight recomputed from the raw planted corpus
    Gate("d28_soft_dedup", d28SoftDedup,
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id, text FROM t
        |  UNION ALL SELECT doc_id + 500000, upper(text) || '!!!' FROM t
        |    WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 600000, '  ' || text || ' .' FROM t
        |    WHERE doc_id % 13 = 0),
        |k AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |  lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')))
        |  AS fp FROM b),
        |c AS (SELECT fp, count(*) AS n_copies FROM k GROUP BY fp)
        |SELECT k.doc_id, c.n_copies,
        |  round(1.0 / c.n_copies, 6) AS soft_weight
        |FROM k JOIN c USING (fp) ORDER BY doc_id""".stripMargin),
    // SoftDeDup mix: d28's weight chain feeding the ES priority (the
    // llm_rank_weighted_mix portability convention) and a top-300 cut
    Gate("llm_softdedup_mix", llmSoftdedupMix,
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id, text FROM t
        |  UNION ALL SELECT doc_id + 500000, upper(text) || '!!!' FROM t
        |    WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 600000, '  ' || text || ' .' FROM t
        |    WHERE doc_id % 13 = 0),
        |k AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |  lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')))
        |  AS fp FROM b),
        |c AS (SELECT fp, count(*) AS n_copies FROM k GROUP BY fp),
        |w AS (SELECT k.doc_id, c.n_copies,
        |  round(1.0 / c.n_copies, 6) AS soft_weight
        |  FROM k JOIN c USING (fp)),
        |pv AS (SELECT doc_id, n_copies, soft_weight,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef',
        |       substring(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS v FROM w),
        |pp AS (SELECT doc_id, n_copies, soft_weight,
        |  round(ln((v + 1) / 16777216.0) * 1.0 / soft_weight, 6) AS priority
        |  FROM pv),
        |keep AS (SELECT * FROM pp ORDER BY priority DESC, doc_id LIMIT 300)
        |SELECT doc_id, n_copies, soft_weight, priority FROM keep
        |ORDER BY doc_id""".stripMargin),
    // T39: URL curation — host/registered-domain extraction, blocklist
    // verdict, and the occurrence-count score replayed on the raw URL
    Gate("t39_url_filter", t39UrlFilter,
      """WITH t AS (SELECT doc_id FROM documents),
        |u AS (SELECT doc_id, 'https://' ||
        |  CASE WHEN doc_id % 11 = 0
        |         THEN 'www.tracker' || CAST(doc_id % 2 AS VARCHAR) || '.com'
        |       WHEN doc_id % 7 = 0
        |         THEN 'blog' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
        |       ELSE 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' END ||
        |  '/p' || CAST(doc_id % 50 AS VARCHAR) ||
        |  CASE WHEN doc_id % 13 = 0 THEN '/casino-games' ELSE '' END ||
        |  CASE WHEN doc_id % 17 = 0 THEN '?ref=xxx&x=1' ELSE '' END AS url
        |  FROM t),
        |h AS (SELECT doc_id, url, regexp_replace(regexp_replace(lower(
        |    regexp_extract(regexp_replace(url, '(?i)^https?://', ''),
        |      '^([^/?#]+)', 1)), '^www\.', ''), ':[0-9]+$', '') AS host
        |  FROM u),
        |d AS (SELECT doc_id, url, string_split(host, '.') AS parts FROM h),
        |rd AS (SELECT doc_id, url,
        |  CASE WHEN len(parts) >= 3 AND
        |         array_to_string(parts[len(parts)-1:], '.') IN
        |           ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au',
        |            'org.au','co.jp','or.jp','ne.jp','com.br','com.cn',
        |            'com.mx','co.in','co.kr','com.tw','com.sg','co.za',
        |            'com.ar','com.tr')
        |       THEN array_to_string(parts[len(parts)-2:], '.')
        |       ELSE array_to_string(parts[len(parts)-1:], '.') END AS domain
        |  FROM d),
        |sc AS (SELECT doc_id, url, domain,
        |  CAST((length(lower(url)) - length(replace(lower(url), 'casino', ''))) / 6
        |     + (length(lower(url)) - length(replace(lower(url), 'xxx', ''))) / 3
        |    AS BIGINT) AS url_score,
        |  domain IN ('tracker0.com', 'tracker1.com', 'spam.co.uk') AS blocked
        |  FROM rd)
        |SELECT doc_id, url, domain, blocked, url_score,
        |  (NOT blocked) AND url_score <= 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin),
    // T40: FIM — the md5 apply-decision, both mod-draw cut points, and
    // the three substrings replayed character-for-character
    Gate("t40_fim_transform", t40FimTransform,
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |u AS (SELECT doc_id, text, n,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':fim'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS vf,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':a'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS va,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':b'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS vb
        |  FROM t),
        |c AS (SELECT doc_id, text, n, vf / 16777216.0 < 0.5 AS fim_applied,
        |  va % (n + 1) AS a, vb FROM u),
        |c2 AS (SELECT doc_id, text, n, fim_applied, a,
        |  a + vb % (n - a + 1) AS b FROM c)
        |SELECT doc_id, fim_applied,
        |  CASE WHEN fim_applied THEN
        |    '<PRE>' || substring(text, 1, CAST(a AS INT)) ||
        |    '<SUF>' || substring(text, CAST(b + 1 AS INT), CAST(n - b AS INT)) ||
        |    '<MID>' || substring(text, CAST(a + 1 AS INT), CAST(b - a AS INT))
        |  ELSE text END AS fim_text
        |FROM c2 ORDER BY doc_id""".stripMargin),
    // T41: scrub — planted controls rebuilt with chr(), the three
    // regexp passes replayed with the global flag (Spark's default)
    Gate("t41_text_scrub", t41TextScrub,
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN chr(1) || chr(7) ELSE '' END ||
        |  text ||
        |  CASE WHEN doc_id % 5 = 0
        |    THEN chr(13) || chr(10) || ' tail' || chr(160) || 'x' || chr(8203)
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(65279) || chr(133) ELSE '' END
        |  AS raw FROM documents),
        |c AS (SELECT doc_id, raw, regexp_replace(regexp_replace(
        |  regexp_replace(raw, '\r\n?', chr(10), 'g'),
        |  '[\x{A0}]', ' ', 'g'),
        |  '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{80}-\x{9F}\x{FEFF}\x{200B}-\x{200D}]',
        |  '', 'g') AS clean_text FROM t)
        |SELECT doc_id, clean_text,
        |  CAST(length(raw) - length(clean_text) AS BIGINT) AS n_scrubbed
        |FROM c ORDER BY doc_id""".stripMargin),
    // Code-pretraining composite: scrub (t41) -> exact dedup on the
    // SCRUBBED text (d1's fp — the scrub is what makes the encoding
    // twins byte-equal) -> FIM on the scrubbed length (t40) -> pack
    // (t8); each fragment is the individually-proven oracle block
    Gate("llm_code_pipeline", llmCodePipeline,
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id, text FROM t
        |  UNION ALL SELECT doc_id + 700000,
        |    chr(65279) || text || chr(8203) || chr(7) FROM t
        |    WHERE doc_id % 9 = 0),
        |c AS (SELECT doc_id, regexp_replace(regexp_replace(
        |  regexp_replace(text, '\r\n?', chr(10), 'g'),
        |  '[\x{A0}]', ' ', 'g'),
        |  '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{80}-\x{9F}\x{FEFF}\x{200B}-\x{200D}]',
        |  '', 'g') AS clean FROM b),
        |k AS (SELECT doc_id, clean, row_number() OVER (
        |  PARTITION BY md5(trim(regexp_replace(lower(clean), '\s+', ' ', 'g')))
        |  ORDER BY doc_id) AS rn FROM c),
        |kk AS (SELECT doc_id, clean, length(clean) AS n FROM k WHERE rn = 1),
        |u AS (SELECT doc_id, clean, n,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':fim'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS vf,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':a'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS va,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':b'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS vb
        |  FROM kk),
        |cc AS (SELECT doc_id, clean, n, vf / 16777216.0 < 0.5 AS fim_applied,
        |  va % (n + 1) AS a, vb FROM u),
        |c2 AS (SELECT doc_id, clean, n, fim_applied, a,
        |  a + vb % (n - a + 1) AS b FROM cc),
        |f AS (SELECT doc_id, fim_applied,
        |  CASE WHEN fim_applied THEN
        |    '<PRE>' || substring(clean, 1, CAST(a AS INT)) ||
        |    '<SUF>' || substring(clean, CAST(b + 1 AS INT), CAST(n - b AS INT)) ||
        |    '<MID>' || substring(clean, CAST(a + 1 AS INT), CAST(b - a AS INT))
        |  ELSE clean END AS fim_text FROM c2),
        |p AS (SELECT doc_id AS id, doc_id % 8 AS shard, fim_applied,
        |  len(regexp_split_to_array(trim(fim_text), '\s+')) AS n_tokens FROM f),
        |cum AS (SELECT id, shard, n_tokens, fim_applied,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM p)
        |SELECT id AS doc_id, shard, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS chunk_id,
        |  fim_applied
        |FROM cum ORDER BY doc_id""".stripMargin),
    // T42: domain prior — registered domain (t39's extraction), t12's
    // quality replay, DECIMAL sums and the qsum >= thr*n verdict
    Gate("t42_domain_prior", t42DomainPrior,
      """WITH t AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS quality
        |  FROM t),
        |u AS (SELECT doc_id, quality,
        |  CASE WHEN doc_id % 11 = 0
        |         THEN 'tracker' || CAST(doc_id % 2 AS VARCHAR) || '.com'
        |       WHEN doc_id % 7 = 0
        |         THEN 'blog' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
        |       ELSE 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' END
        |    AS domain,
        |  'https://' ||
        |  CASE WHEN doc_id % 11 = 0
        |         THEN 'www.tracker' || CAST(doc_id % 2 AS VARCHAR) || '.com'
        |       WHEN doc_id % 7 = 0
        |         THEN 'blog' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
        |       ELSE 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' END ||
        |  '/p' || CAST(doc_id % 50 AS VARCHAR) AS url
        |  FROM q),
        |g AS (SELECT domain, count(*) AS domain_docs,
        |  sum(CAST(quality AS DECIMAL(18,6))) AS qsum FROM u GROUP BY domain)
        |SELECT u.doc_id, u.domain, g.domain_docs,
        |  CAST(g.qsum AS DOUBLE) AS domain_qsum,
        |  g.domain_docs < 20 OR
        |    g.qsum >= CAST(0.81 AS DECIMAL(18,6)) * g.domain_docs AS keep
        |FROM u JOIN g USING (domain) ORDER BY doc_id""".stripMargin),
    // RefinedWeb composite: t39's URL gate, then t42's domain prior
    // computed over the URL SURVIVORS only, then the page verdict
    Gate("llm_refinedweb_pipeline", llmRefinedwebPipeline,
      """WITH t AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(len(ws) / 50.0, 1.0) * 0.5
        |    + least(len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))
        |        / greatest(len(ws) * 0.05, 1.0), 1.0) * 0.5
        |    - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS quality
        |  FROM t),
        |u AS (SELECT doc_id, quality,
        |  CASE WHEN doc_id % 11 = 0
        |         THEN 'tracker' || CAST(doc_id % 2 AS VARCHAR) || '.com'
        |       WHEN doc_id % 7 = 0
        |         THEN 'blog' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
        |       ELSE 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' END
        |    AS domain,
        |  CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS url_score
        |  FROM q),
        |uk AS (SELECT doc_id, quality, domain FROM u
        |  WHERE domain NOT IN ('tracker0.com', 'tracker1.com')
        |    AND url_score <= 0),
        |g AS (SELECT domain, count(*) AS domain_docs,
        |  sum(CAST(quality AS DECIMAL(18,6))) AS qsum FROM uk GROUP BY domain)
        |SELECT uk.doc_id, uk.domain, g.domain_docs,
        |  CAST(g.qsum AS DOUBLE) AS domain_qsum
        |FROM uk JOIN g USING (domain)
        |WHERE g.domain_docs < 20 OR
        |  g.qsum >= CAST(0.81 AS DECIMAL(18,6)) * g.domain_docs
        |ORDER BY doc_id""".stripMargin),
    // ANN16: filtered vector search under the nProbe=nCells exactness
    // convention — the oracle is ann1's brute force restricted to the
    // lang='en' id set (the IN-subquery is the semi-join twin of the
    // engine's cell-side pre-filter)
    Gate("ann16_filtered_ann", ann16FilteredAnn,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e
        |  WHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
        |scored AS (SELECT q_id, c.vec_id AS n_id, list_cosine_similarity(qv, c.v) AS cos
        |  FROM q, c WHERE c.vec_id <> q_id),
        |r AS (SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
        |SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim FROM r
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // ANN17: k-NN join at nProbe=nCells ⇒ exact all-pairs — the oracle
    // is the n² self-join top-3 on the capped fixture
    Gate("ann17_knn_join", ann17KnnJoin,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 120),
        |scored AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |  list_cosine_similarity(a.v, b.v) AS cos
        |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
        |SELECT q_id, rank, n_id, round(cos, 6) AS cos_sim FROM r
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin),
    // T43: the chat render is deterministic string assembly — template,
    // turn order, offsets, and prompt fingerprint all recomputed
    Gate("t43_chat_render", t43ChatRender,
      """WITH b AS (SELECT doc_id, doc_id % 40 AS conv_id,
        |  substring(text, 1, 120) AS t FROM documents),
        |r AS (SELECT conv_id, doc_id,
        |  CASE WHEN (row_number() OVER (PARTITION BY conv_id ORDER BY doc_id)) % 2 = 1
        |       THEN 'user' ELSE 'assistant' END AS role, t FROM b),
        |t AS (SELECT conv_id, doc_id,
        |  '<|' || role || '|>' || t || '<|end|>' AS rt FROM r),
        |g AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  string_agg(rt, '' ORDER BY doc_id) AS text,
        |  arg_max(rt, doc_id) AS last_rt FROM t GROUP BY conv_id)
        |SELECT conv_id, n_turns, text,
        |  CAST(length(text) - length(last_rt) AS BIGINT) AS resp_start,
        |  CAST(length(last_rt) AS BIGINT) AS resp_len,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp
        |FROM g ORDER BY conv_id""".stripMargin),
    // LLM SFT composite: fixture construction (base convs + prompt-twin
    // convs with a different final response), render, min-conv keeper
    // per prompt_fp, t8's shard-local pack — one WITH-chain, one hash
    Gate("llm_sft_pipeline", llmSftPipeline,
      """WITH b AS (SELECT doc_id, doc_id % 20 AS conv_id,
        |  substring(text, 1, 100) AS t FROM documents WHERE doc_id < 400),
        |rn AS (SELECT conv_id, doc_id, t,
        |  row_number() OVER (PARTITION BY conv_id ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY conv_id) AS n FROM b),
        |roled AS (SELECT conv_id, doc_id AS ord,
        |  CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
        |  t, rn, n FROM rn),
        |base AS (SELECT conv_id, ord, role, t FROM roled),
        |twin AS (SELECT conv_id + 1000 AS conv_id, ord, role, t
        |  FROM roled WHERE conv_id < 10 AND rn < n),
        |synth AS (SELECT conv_id + 1000 AS conv_id,
        |  CAST(100000000 AS BIGINT) AS ord, 'assistant' AS role,
        |  'ALT ' || CAST(conv_id AS VARCHAR) AS t
        |  FROM (SELECT DISTINCT conv_id FROM roled WHERE conv_id < 10)),
        |turns AS (SELECT * FROM base UNION ALL SELECT * FROM twin
        |  UNION ALL SELECT * FROM synth),
        |rend AS (SELECT conv_id, ord,
        |  '<|' || role || '|>' || t || '<|end|>' AS rt FROM turns),
        |g AS (SELECT conv_id, string_agg(rt, '' ORDER BY ord) AS text,
        |  arg_max(rt, ord) AS last_rt FROM rend GROUP BY conv_id),
        |rfp AS (SELECT conv_id, text,
        |  CAST(length(text) - length(last_rt) AS BIGINT) AS resp_start,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp
        |  FROM g),
        |keep AS (SELECT prompt_fp, min(conv_id) AS conv_id
        |  FROM rfp GROUP BY prompt_fp),
        |surv AS (SELECT rfp.* FROM rfp JOIN keep USING (prompt_fp, conv_id)),
        |tok AS (SELECT conv_id AS id, conv_id % 4 AS shard,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  prompt_fp, resp_start FROM surv),
        |c AS (SELECT id, shard, n_tokens, prompt_fp, resp_start,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM tok)
        |SELECT id, shard, n_tokens,
        |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS chunk_id,
        |  prompt_fp, resp_start
        |FROM c ORDER BY id""".stripMargin),
    // ANN18: medoid assignment is pure arithmetic — argmax cosine over
    // the 8 seed vectors, ties to the smaller seed id
    Gate("ann18_medoid_assign", ann18MedoidAssign,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |x AS (SELECT e.vec_id, s.cell,
        |  list_cosine_similarity(e.v, s.sv) AS cs FROM e, s),
        |r AS (SELECT vec_id, cell, cs, ROW_NUMBER() OVER (
        |  PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rk FROM x)
        |SELECT vec_id, cell, round(cs, 6) AS cell_sim FROM r
        |WHERE rk = 1 ORDER BY vec_id""".stripMargin),
    // Diversity composite: ann18's assignment + r4's md5 quota draw
    // keyed on the CELL — both stages replayed, one hash
    Gate("llm_diversity_sample", llmDiversitySample,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |x AS (SELECT e.vec_id, s.cell,
        |  list_cosine_similarity(e.v, s.sv) AS cs FROM e, s),
        |r AS (SELECT vec_id, cell, cs, ROW_NUMBER() OVER (
        |  PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rk FROM x),
        |a AS (SELECT vec_id, cell, round(cs, 6) AS cell_sim FROM r WHERE rk = 1),
        |q AS (SELECT vec_id, cell, cell_sim, ROW_NUMBER() OVER (
        |  PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS qrk
        |  FROM a)
        |SELECT vec_id, cell, cell_sim FROM q WHERE qrk <= 12
        |ORDER BY vec_id""".stripMargin),
    // T44: span corruption replayed end-to-end — t40's u24 hex-digit
    // noise per segment, integer segment bounds, DuckDB's INCLUSIVE
    // list_slice(begin, end) mapped onto Spark's (start, length)
    Gate("t44_span_corrupt", t44SpanCorrupt,
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |b AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS L FROM t),
        |u AS (SELECT doc_id, tk, L,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':s0'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS v0,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':s1'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS v1,
        |  list_sum(list_transform(range(6), i ->
        |    (strpos('0123456789abcdef', substring(
        |       md5(CAST(doc_id AS VARCHAR) || ':s2'),
        |       CAST(i + 1 AS INT), 1)) - 1)
        |    * CAST(16 ** (5 - i) AS BIGINT))) AS v2
        |  FROM b),
        |g AS (SELECT doc_id, tk, L,
        |  CAST(floor(L * 0 / 3.0) AS BIGINT) AS ss0,
        |  CAST(floor(L * 1 / 3.0) AS BIGINT) AS se0,
        |  CAST(floor(L * 1 / 3.0) AS BIGINT) AS ss1,
        |  CAST(floor(L * 2 / 3.0) AS BIGINT) AS se1,
        |  CAST(floor(L * 2 / 3.0) AS BIGINT) AS ss2,
        |  CAST(floor(L * 3 / 3.0) AS BIGINT) AS se2,
        |  v0, v1, v2 FROM u),
        |sp AS (SELECT doc_id, tk, L, ss0, se0, ss1, se1, ss2, se2,
        |  se0 - ss0 > 2 AS c0, se1 - ss1 > 2 AS c1, se2 - ss2 > 2 AS c2,
        |  ss0 + v0 % greatest(se0 - ss0 - 1, 1) AS p0,
        |  ss1 + v1 % greatest(se1 - ss1 - 1, 1) AS p1,
        |  ss2 + v2 % greatest(se2 - ss2 - 1, 1) AS p2
        |  FROM g),
        |o AS (SELECT doc_id, L,
        |  (CASE WHEN c0 THEN 1 ELSE 0 END + CASE WHEN c1 THEN 1 ELSE 0 END
        |   + CASE WHEN c2 THEN 1 ELSE 0 END) AS n_spans,
        |  (CASE WHEN c0 THEN list_slice(tk, ss0 + 1, p0) || ['<extra_id_0>']
        |      || list_slice(tk, p0 + 3, se0)
        |    ELSE list_slice(tk, ss0 + 1, se0) END)
        |  || (CASE WHEN c1 THEN list_slice(tk, ss1 + 1, p1) || ['<extra_id_1>']
        |      || list_slice(tk, p1 + 3, se1)
        |    ELSE list_slice(tk, ss1 + 1, se1) END)
        |  || (CASE WHEN c2 THEN list_slice(tk, ss2 + 1, p2) || ['<extra_id_2>']
        |      || list_slice(tk, p2 + 3, se2)
        |    ELSE list_slice(tk, ss2 + 1, se2) END) AS inp,
        |  (CASE WHEN c0 THEN ['<extra_id_0>'] || list_slice(tk, p0 + 1, p0 + 2)
        |    ELSE CAST([] AS VARCHAR[]) END)
        |  || (CASE WHEN c1 THEN ['<extra_id_1>'] || list_slice(tk, p1 + 1, p1 + 2)
        |    ELSE CAST([] AS VARCHAR[]) END)
        |  || (CASE WHEN c2 THEN ['<extra_id_2>'] || list_slice(tk, p2 + 1, p2 + 2)
        |    ELSE CAST([] AS VARCHAR[]) END)
        |  || ['<extra_id_3>'] AS tgt
        |  FROM sp)
        |SELECT doc_id, L AS n_tokens, CAST(n_spans AS BIGINT) AS n_spans,
        |  array_to_string(inp, ' ') AS input_text,
        |  array_to_string(tgt, ' ') AS target_text
        |FROM o ORDER BY doc_id""".stripMargin),
    // M17: IR metrics recomputed end to end — ann1's exact top-5 as the
    // ranked run, same-label pairs as qrels, recall/MRR/nDCG per query
    Gate("m17_retrieval_metrics", m17RetrievalMetrics,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, label AS ql FROM e
        |  WHERE vec_id < 20),
        |sc AS (SELECT q_id, e.vec_id AS n_id,
        |  list_cosine_similarity(qv, e.v) AS cos
        |  FROM q, e WHERE e.vec_id <> q_id),
        |res AS (SELECT q_id, n_id, rank FROM (
        |  SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM sc)
        |  WHERE rank <= 5),
        |rel AS (SELECT q.q_id, e.vec_id AS n_id FROM q
        |  JOIN e ON e.label = q.ql AND e.vec_id <> q.q_id),
        |nr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel
        |  GROUP BY q_id),
        |h AS (SELECT res.q_id, res.rank,
        |  CASE WHEN rel.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM res LEFT JOIN rel
        |    ON res.q_id = rel.q_id AND res.n_id = rel.n_id),
        |pq AS (SELECT q_id, CAST(sum(hit) AS BIGINT) AS hits,
        |  coalesce(max(CASE WHEN hit = 1 THEN 1.0 / rank END), 0.0) AS mrr_raw,
        |  sum(CASE WHEN hit = 1 THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg
        |  FROM h GROUP BY q_id),
        |j AS (SELECT pq.q_id, coalesce(nr.n_rel, 0) AS n_rel, hits, mrr_raw, dcg,
        |  list_sum(list_transform(range(1,
        |    CAST(greatest(least(coalesce(nr.n_rel, 0), 5), 1) AS BIGINT) + 1),
        |    i -> 1.0 / log2(i + 1))) AS idcg
        |  FROM pq LEFT JOIN nr USING (q_id))
        |SELECT q_id, n_rel, hits,
        |  round(CASE WHEN n_rel > 0 THEN hits * 1.0 / n_rel ELSE 0.0 END, 6)
        |    AS recall_at_k,
        |  round(mrr_raw, 6) AS mrr,
        |  round(CASE WHEN n_rel > 0 THEN dcg / idcg ELSE 0.0 END, 6)
        |    AS ndcg_at_k
        |FROM j ORDER BY q_id""".stripMargin),
    // DPO pairs: the llm_sft twin construction + render, then the
    // (chosen, rejected) election by response length — chosen ties to
    // the smaller conv, rejected to the larger, margins exact
    Gate("llm_dpo_pairs", llmDpoPairs,
      """WITH b AS (SELECT doc_id, doc_id % 20 AS conv_id,
        |  substring(text, 1, 100) AS t FROM documents WHERE doc_id < 400),
        |rn AS (SELECT conv_id, doc_id, t,
        |  row_number() OVER (PARTITION BY conv_id ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY conv_id) AS n FROM b),
        |roled AS (SELECT conv_id, doc_id AS ord,
        |  CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
        |  t, rn, n FROM rn),
        |base AS (SELECT conv_id, ord, role, t FROM roled),
        |twin AS (SELECT conv_id + 1000 AS conv_id, ord, role, t
        |  FROM roled WHERE conv_id < 10 AND rn < n),
        |synth AS (SELECT conv_id + 1000 AS conv_id,
        |  CAST(100000000 AS BIGINT) AS ord, 'assistant' AS role,
        |  'ALT ' || CAST(conv_id AS VARCHAR) AS t
        |  FROM (SELECT DISTINCT conv_id FROM roled WHERE conv_id < 10)),
        |turns AS (SELECT * FROM base UNION ALL SELECT * FROM twin
        |  UNION ALL SELECT * FROM synth),
        |rend AS (SELECT conv_id, ord,
        |  '<|' || role || '|>' || t || '<|end|>' AS rt FROM turns),
        |g AS (SELECT conv_id, string_agg(rt, '' ORDER BY ord) AS text,
        |  arg_max(rt, ord) AS last_rt FROM rend GROUP BY conv_id),
        |cand AS (SELECT conv_id AS c,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp,
        |  CAST(length(last_rt) AS DOUBLE) AS s, last_rt AS resp FROM g),
        |w1 AS (SELECT prompt_fp, c, s, resp,
        |  row_number() OVER (PARTITION BY prompt_fp
        |    ORDER BY s DESC, c ASC) AS rch,
        |  row_number() OVER (PARTITION BY prompt_fp
        |    ORDER BY s ASC, c DESC) AS rrj,
        |  count(*) OVER (PARTITION BY prompt_fp) AS n FROM cand),
        |ch AS (SELECT prompt_fp, CAST(n AS BIGINT) AS n_candidates,
        |  c AS chosen_conv, resp AS chosen_response, s AS chs
        |  FROM w1 WHERE rch = 1),
        |rj AS (SELECT prompt_fp, c AS rejected_conv,
        |  resp AS rejected_response, s AS rjs FROM w1 WHERE rrj = 1)
        |SELECT ch.prompt_fp, n_candidates, chosen_conv, rejected_conv,
        |  chosen_response, rejected_response, round(chs - rjs, 6) AS margin
        |FROM ch JOIN rj USING (prompt_fp)
        |WHERE n_candidates >= 2 ORDER BY prompt_fp""".stripMargin),
    // T45: the streaming SFT dedup — llm_sft's render chain (base +
    // twins + the fresh-prompt v2 duplicate pairs), then d26's keeper
    // rule on the PROMPT fingerprint: first batch wins, min conv
    // within the batch
    Gate("t45_sft_dedup_stream", t45SftDedupStream,
      """WITH b AS (SELECT doc_id, doc_id % 20 AS conv_id,
        |  substring(text, 1, 100) AS t FROM documents WHERE doc_id < 400),
        |rn AS (SELECT conv_id, doc_id, t,
        |  row_number() OVER (PARTITION BY conv_id ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY conv_id) AS n FROM b),
        |roled AS (SELECT conv_id, doc_id AS ord,
        |  CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role,
        |  t, rn, n FROM rn),
        |base AS (SELECT conv_id, ord, role, t FROM roled),
        |twin AS (SELECT conv_id + 1000 AS conv_id, ord, role, t
        |  FROM roled WHERE conv_id < 10 AND rn < n),
        |synth AS (SELECT conv_id + 1000 AS conv_id,
        |  CAST(100000000 AS BIGINT) AS ord, 'assistant' AS role,
        |  'ALT ' || CAST(conv_id AS VARCHAR) AS t
        |  FROM (SELECT DISTINCT conv_id FROM roled WHERE conv_id < 10)),
        |turns AS (SELECT * FROM base UNION ALL SELECT * FROM twin
        |  UNION ALL SELECT * FROM synth),
        |rend AS (SELECT conv_id, ord,
        |  '<|' || role || '|>' || t || '<|end|>' AS rt FROM turns),
        |g AS (SELECT conv_id, string_agg(rt, '' ORDER BY ord) AS text,
        |  arg_max(rt, ord) AS last_rt FROM rend GROUP BY conv_id),
        |r0 AS (SELECT conv_id,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp,
        |  CAST(length(last_rt) AS BIGINT) AS resp_len FROM g),
        |rend2 AS (SELECT conv_id, ord,
        |  '<|' || role || '|>v2 ' || t || '<|end|>' AS rt FROM turns
        |  WHERE conv_id BETWEEN 10 AND 14),
        |g2 AS (SELECT conv_id, string_agg(rt, '' ORDER BY ord) AS text,
        |  arg_max(rt, ord) AS last_rt FROM rend2 GROUP BY conv_id),
        |r2 AS (SELECT conv_id,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp,
        |  CAST(length(last_rt) AS BIGINT) AS resp_len FROM g2),
        |aug AS (
        |  SELECT conv_id, prompt_fp, resp_len,
        |    CASE WHEN conv_id < 1000 THEN 1 ELSE 2 END AS bi FROM r0
        |  UNION ALL SELECT conv_id + 3000, prompt_fp, resp_len, 2 FROM r2
        |  UNION ALL SELECT conv_id + 4000, prompt_fp, resp_len, 2 FROM r2),
        |k AS (SELECT conv_id, prompt_fp, resp_len, ROW_NUMBER() OVER (
        |  PARTITION BY prompt_fp ORDER BY bi, conv_id) AS krn FROM aug)
        |SELECT conv_id, prompt_fp, resp_len FROM k WHERE krn = 1
        |ORDER BY conv_id""".stripMargin),
    // Chat-from-logs: s_sessionize's session chain + t43's render —
    // sessions become conversations, events become turns keyed by
    // event_id, the full render + offsets recomputed
    Gate("llm_chat_from_logs", llmChatFromLogs,
      """WITH e AS (SELECT event_id, ts, user_id, event_type FROM events),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |  AS prev_ts FROM e),
        |n AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END
        |  AS new_sess FROM l),
        |s AS (SELECT event_id, user_id, event_type,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM n),
        |tu AS (SELECT CAST(user_id * 100000 + sess_id AS BIGINT) AS conv_id,
        |  event_id AS ord, event_type,
        |  row_number() OVER (PARTITION BY user_id, sess_id
        |    ORDER BY event_id) AS rn FROM s),
        |t AS (SELECT conv_id, ord,
        |  '<|' || (CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END)
        |  || '|>' || event_type || '#' || CAST(ord % 100 AS VARCHAR)
        |  || '<|end|>' AS rt FROM tu),
        |g AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  string_agg(rt, '' ORDER BY ord) AS text,
        |  arg_max(rt, ord) AS last_rt FROM t GROUP BY conv_id)
        |SELECT conv_id, n_turns, text,
        |  CAST(length(text) - length(last_rt) AS BIGINT) AS resp_start,
        |  CAST(length(last_rt) AS BIGINT) AS resp_len,
        |  md5(substring(text, 1, length(text) - length(last_rt))) AS prompt_fp
        |FROM g ORDER BY conv_id""".stripMargin),
    // T46: BM25 recomputed end to end — case-folded terms, tf/df/dl,
    // df-pruned postings, the Okapi formula with LITERAL-shaped
    // constants ((1.2 + 1), (1 - 0.75)) so both engines fold the same
    // IEEE doubles
    Gate("t46_bm25_topk", t46Bm25TopK, bm25GateSql),
    // Hybrid retrieval: the t46 run (top-20) + the ann1 vector run
    // (top-20) fused by reciprocal-rank — rank arithmetic only
    Gate("llm_hybrid_retrieval", llmHybridRetrieval,
      """WITH body AS (SELECT doc_id AS n_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |dl AS (SELECT n_id, CAST(len(tk) AS BIGINT) AS dl FROM body),
        |tf AS (SELECT n_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT n_id, unnest(tk) AS term FROM body) GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
        |post AS (SELECT tf.n_id, tf.term, tf.tf, dl.dl, st.avgdl,
        |  ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) AS idf
        |  FROM tf JOIN dl USING (n_id) JOIN df USING (term), st
        |  WHERE df.df <= 1.0 * st.n_docs),
        |q AS (SELECT doc_id AS q_id, substring(text, 1, 60) AS q_text
        |  FROM documents WHERE doc_id % 83 = 0 AND doc_id < 500),
        |qt AS (SELECT q_id, unnest(list_distinct(
        |  regexp_split_to_array(trim(lower(q_text)), '\s+'))) AS term FROM q),
        |sc AS (SELECT q_id, n_id,
        |  round(sum(idf * (tf * (1.2 + 1)) /
        |    (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
        |  FROM qt JOIN post USING (term) GROUP BY 1, 2),
        |l20 AS (SELECT q_id, n_id, rank FROM (
        |  SELECT q_id, n_id, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY bm25 DESC, n_id ASC) AS rank FROM sc)
        |  WHERE rank <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT vec_id AS q_id, v AS qvec FROM e
        |  WHERE vec_id % 83 = 0 AND vec_id < 500),
        |vsc AS (SELECT q_id, e.vec_id AS n_id,
        |  list_cosine_similarity(qvec, e.v) AS cos
        |  FROM qv, e WHERE e.vec_id <> q_id),
        |v20 AS (SELECT q_id, n_id, rank FROM (
        |  SELECT q_id, n_id, ROW_NUMBER() OVER (
        |    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM vsc)
        |  WHERE rank <= 20),
        |f AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
        |  coalesce(l.n_id, v.n_id) AS n_id,
        |  round(coalesce(1.0 / (l.rank + 60), 0.0)
        |    + coalesce(1.0 / (v.rank + 60), 0.0), 6) AS rrf
        |  FROM l20 l FULL OUTER JOIN v20 v
        |    ON l.q_id = v.q_id AND l.n_id = v.n_id),
        |r AS (SELECT q_id, n_id, rrf, ROW_NUMBER() OVER (
        |  PARTITION BY q_id ORDER BY rrf DESC, n_id ASC) AS rank FROM f)
        |SELECT q_id, rank, n_id, rrf FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    // T47: the same answers through the bucket-partitioned at-rest
    // index (the d14/ann4 store-equals-live convention)
    Gate("t47_bm25_store", t47Bm25Store, bm25GateSql),
    // T48: two-installment install + exact-long stats update — same
    // ground truth
    Gate("t48_bm25_append", t48Bm25Append, bm25GateSql),
    // T49: the df-based stopword prune LIVE (maxDfRatio = 0.5) on the
    // realistic-vocabulary fixture — the oracle builds the same
    // synthetic corpus and replays the PRUNED scoring; an engine that
    // scored the df=N stopwords (tiny but nonzero idf) hash-fails
    Gate("t49_bm25_pruned", t49Bm25Pruned, bm25PrunedGateSql),
    // T50: the store FOLDED (generations + bloom sidecars + stats into
    // batch 0) must still serve t15's exact answers over the suite
    // union — a fold losing a gram row or bloom coverage hash-fails
    Gate("t50_decontam_compacted", t50DecontamCompacted, decontamRewriteSql),
    // t51: the rebuilt-store probe must equal the SAME pruned live
    // replay — a stale generation or stats entry surviving the
    // reinstall shifts every idf and hash-fails here
    Gate("t51_bm25_rebuilt", t51Bm25Rebuilt, bm25PrunedGateSql),
    // D30: the fp store FOLDED (generations + per-batch blooms into the
    // base) must serve d15's probe semantics over the landed union —
    // the store side is base(%5∈{1,2}) ∪ append(%5∈{3,4}) = %5<>0, so
    // the oracle is d15's verbatim; a fold losing an fp row or bloom
    // coverage re-admits a duplicate and hash-fails
    Gate("d30_fp_compacted", d30FpCompacted,
      """WITH fp AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
        |keep AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp)
        |SELECT doc_id, fp FROM keep
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = keep.fp)
        |ORDER BY doc_id""".stripMargin),
    // scaling-visible gates: the 32× replication is PINNED here (never
    // env-dependent), so the declared result is stable; the bucket rule
    // is the dsir/doremi md5 convention, the quality expression is
    // t2's, both verbatim
    // scaling-visible gates (round-19): 32×-replicated compute-bound
    // map passes whose wall tracks core count — the surface the
    // driver's 8-vs-32-core probe reads (the rest of the sf0.1 battery
    // is fixed-floor dominated and reads ratio ≈ 1 on any code)
    Gate("scale1_grams_wide", scale1GramsWide,
      """WITH rr AS (SELECT unnest(range(0, 32)) AS rep),
        |t AS (SELECT rep, regexp_split_to_array(
        |    trim(text || ' rep' || CAST(rep AS VARCHAR)), '\s+') AS ws
        |  FROM documents, rr),
        |g AS (SELECT rep, unnest(ws) AS g FROM t
        |  UNION ALL
        |  SELECT rep, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS g
        |  FROM t WHERE len(ws) >= 2),
        |b AS (SELECT rep,
        |  (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS bk FROM g)
        |SELECT rep, CAST(bk AS INTEGER) AS bk, count(*) AS c
        |FROM b GROUP BY rep, bk ORDER BY rep, bk""".stripMargin),
    Gate("scale2_shingles_wide", scale2ShinglesWide,
      """WITH rr AS (SELECT unnest(range(0, 32)) AS rep),
        |t AS (SELECT rep, lang, regexp_split_to_array(
        |    trim(text || ' rep' || CAST(rep AS VARCHAR)), '\s+') AS ws
        |  FROM documents, rr),
        |g AS (SELECT rep, lang, unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM t WHERE len(ws) >= 3),
        |b AS (SELECT rep, lang,
        |  (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) AS bk FROM g)
        |SELECT rep, lang, count(*) AS n_grams, CAST(sum(bk) AS BIGINT) AS bk_sum
        |FROM b GROUP BY rep, lang ORDER BY rep, lang""".stripMargin)
  )
}
