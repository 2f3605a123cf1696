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
    * Written SHARDED (shards = 2) so the oracle also gates the
    * hash-range-sharded layout — the path past the single-sidecar
    * 1e9-fp ceiling; shard routing is layout-only, the probe answer
    * is identical by construction. */
  def d15FpStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/fp_store"
    Dedup.writeFpStore(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", dir, expectedTotalFps = 1000000L, shards = 2)
    Dedup.incrementalExactDedupFromFpStore(
        docs.filter(col("doc_id") % 5 === 0), dir, "doc_id", "text")
      .select(col("id").as("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** D30 — fp store GENERATION COMPACTION oracle-gated (the d29/t50
    * pattern on the exact-dedup store): the corpus lands in two
    * installments (sharded base install + appendToFpStore), the fold
    * ([[Dedup.compactFpStore]]) collapses fps generations and per-batch
    * bloom sidecars, and the probe runs against the FOLDED store —
    * same oracle shape as d15 over the union. A fold that loses an fp
    * row (suspect verifies clean → re-admitted) or drops bloom coverage
    * (duplicate probes negative → re-admitted) adds rows and
    * hash-fails. */
  def d30FpCompacted(s: SparkSession, d: String): DataFrame = {
    import graft.core.PhaseTimer.timed
    val docs = Tables.documents(s, d)
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/fp_compact"
    timed("install") {
      Dedup.writeFpStore(
        docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        "doc_id", "text", dir, expectedTotalFps = 1000000L, shards = 2)
    }
    // localCheckpoint — the append path's caller contract: the sharded
    // append re-reads the batch frame per shard slice + filter build,
    // and an unfrozen lineage would re-run the scan+fingerprint+distinct
    // for each of those jobs
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/neardup_store"
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/evalgram_store"
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/evalgram_compact"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t29_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/published"
    Sources.publishBatch(docs.filter(col("doc_id") % 2 === 0), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 2 =!= 0), dir, 2L)
    // crash residue: data landed, manifest never did — must be invisible
    docs.limit(50).write.mode("overwrite").parquet(s"$dir/data/batch=99")
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/published_compact"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 0).repartition(16), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 1).repartition(16), dir, 2L)
    Sources.publishBatch(docs.filter(col("doc_id") % 3 === 2).repartition(16), dir, 3L)
    // crash residue: data landed, manifest never did — must stay invisible
    docs.limit(50).write.mode("overwrite").parquet(s"$dir/data/batch=99")
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/published_zorder"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    Sources.publishBatch(docs.filter(col("doc_id") % 2 === 0).repartition(8), dir, 1L)
    Sources.publishBatch(docs.filter(col("doc_id") % 2 =!= 0).repartition(8), dir, 2L)
    docs.limit(50).write.mode("overwrite").parquet(s"$dir/data/batch=99")
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/boilerplate_store"
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/bigram_lm_store"
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
    val tmp = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/jsonl_roundtrip/documents"
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
    val path = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ivf_index"
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
    val path = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ivf_index_grow"
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ann20_ivf"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(bp, true)
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
    val path = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/pq_index"
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
  val ivfStatsDir: String = sys.props("java.io.tmpdir") +
    s"/graft_${ProcessHandle.current.pid}/ivf_index_stats"

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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ivf_index_incremental"
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/neardup_store_grown"
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/neardup_store_compacted"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ann13_cdc"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/d23_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/d26_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
        val q = graft.streaming.EventStream
          .streamingExactDedup(stream, "ts", "text", "doc_id")
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/d27_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    def sentinel(idVal: Long, tag: String, tsLit: String) =
      docs.limit(1).select(lit(idVal).as("doc_id"),
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
        val q = out.writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t34_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/d24_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/fuzzy_eval_store"
    Dedup.writeNearDupStore(fuzzyEvalSuite(docs), "doc_id", "text", dir)
    Dedup.fuzzyDecontaminateFromStore(docs, dir, "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_id"), col("eval_jaccard"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** MM4 — perceptual-hash image dedup ([[graft.operators.Multimodal
    * .imageDHash]] + [[graft.operators.Multimodal.imageDupGroups]]):
    * every doc < 2000 synthesizes a 16×8 grayscale PPM whose pixels
    * are md5-avalanched from the TEXT (identical texts — the corpus's
    * real verbatim-dup structure — yield identical images; any text
    * difference scrambles every pixel, so distinct texts collide on
    * the 64-bit dHash with ~2⁻⁶⁰ odds), and every %5 == 0 doc also
    * plants a BRIGHTNESS-SHIFTED copy (+1 to every channel): its
    * bytes differ everywhere — exact binary dedup misses it — but
    * dHash's cross-multiplied cell-difference bits are shift-invariant
    * by construction, so it MUST land in its original's dup group.
    * The oracle replays the group structure from what the hash is
    * CONTRACTED to mirror: text equality (+ the planted-twin
    * arithmetic). A hash that splits a brightness pair (invariance
    * bug), merges distinct texts (discrimination bug), or mis-elects
    * the keeper hash-fails. */
  /** Shared mm4/mm5/mm6 image synthesis: a 16×8 grayscale PPM whose
    * pixels are md5-avalanched from the doc TEXT (128 hex chars, one
    * md5 block per two raster rows) — identical texts yield identical
    * images, any text change scrambles every pixel, and `shift` is the
    * constant brightness offset the dHash must be invariant to. */
  private def md5ImageBytes(hex: String, shift: Int): Array[Byte] = {
    val base = hex.getBytes("US-ASCII")
    Ppm.encode(16, 8, base.flatMap { b =>
      val v = (b + shift).toByte; Array(v, v, v)
    })
  }
  private def md5HexImages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat((2 to 5).map(i =>
        md5(concat(col("text"), lit(s":$i")))): _*).as("hex"))
  private def ppmFrame(s: SparkSession, hexed: DataFrame,
                       idOffset: Long, shift: Int): DataFrame = {
    import s.implicits._
    hexed.as[(Long, String)].map { case (id, hex) =>
      (id + idOffset, md5ImageBytes(hex, shift))
    }.toDF("media_id", "bytes")
  }

  def mm4ImageDedup(s: SparkSession, d: String): DataFrame = {
    val hexed = md5HexImages(
      Tables.documents(s, d).filter(col("doc_id") < 2000))
    val media = ppmFrame(s, hexed, 0L, 0).unionByName(
      ppmFrame(s, hexed.filter(col("doc_id") % 5 === 0), 500000000L, 1))
    Multimodal.imageDupGroups(Multimodal.imageDHash(media))
      .orderBy("media_id")
  }

  /** MM7 — volume-invariant AUDIO dedup ([[graft.operators.Wav
    * .audioFingerprint]] + the shared dup-group machinery): clips are
    * WAVs whose 16-bit samples are md5-avalanched from the text, and
    * every %5 doc plants a ×2-GAIN twin — every PCM byte differs, but
    * a power-of-two gain scales the whole Goertzel chain EXACTLY in
    * IEEE float, so all band-energy difference signs (the fingerprint
    * bits) provably survive and the remaster lands in its original's
    * group. Same oracle contract as mm4: group structure replayed
    * from text equality + twin arithmetic — a gain-twin split
    * (invariance bug) or a distinct-text merge (discrimination bug)
    * hash-fails. */
  def mm7AudioDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hexed = md5HexImages(
      Tables.documents(s, d).filter(col("doc_id") < 2000))
    def wavFrame(df: DataFrame, off: Long, gain: Int): DataFrame =
      df.as[(Long, String)].map { case (id, hex) =>
        // samples in ±1728·gain — gain 2 stays far from Short overflow
        val samples = hex.getBytes("US-ASCII")
          .map(c => (((c - 75) << 6) * gain).toShort)
        (id + off, Wav.encode(samples, 16000))
      }.toDF("media_id", "bytes")
    val media = wavFrame(hexed, 0L, 1).unionByName(
      wavFrame(hexed.filter(col("doc_id") % 5 === 0), 500000000L, 2))
    Multimodal.imageDupGroups(Multimodal.audioFingerprints(media),
        hashCol = "afp")
      .orderBy("media_id")
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

  /** MM8 — brightness-invariant VIDEO dedup ([[graft.operators.Y4m
    * .videoFingerprint]]): clips are 64-frame Y4M streams whose Y
    * planes are md5-avalanched from the text per frame, and every %5
    * doc plants a +16-BRIGHTNESS twin (every Y byte differs; the
    * integer cross-multiplied bin comparisons provably survive a
    * constant shift — the dHash discipline on the time axis). Third
    * member of the modality trio, same shared oracle contract as
    * mm4/mm7: group structure from text equality + twin arithmetic. */
  def mm8VideoDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter(col("doc_id") < 2000)
      .select("doc_id", "text")
    def vidFrame(df: DataFrame, off: Long, shift: Int): DataFrame =
      df.as[(Long, String)].map { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val frames = Array.tabulate(64) { f =>
          md.reset()
          // mask to 0..127 so the +16 twin can never wrap a byte
          md.digest((text + ":" + f).getBytes("UTF-8"))
            .map(b => ((b & 0x7F) + shift).toByte)
        }
        (id + off, Y4m.encode(16, 1, 25, frames))
      }.toDF("media_id", "bytes")
    val media = vidFrame(docs, 0L, 0).unionByName(
      vidFrame(docs.filter(col("doc_id") % 5 === 0), 500000000L, 16))
    Multimodal.imageDupGroups(Multimodal.videoFingerprints(media),
        hashCol = "vfp")
      .orderBy("media_id")
  }

  /** MM5 — image dedup against the AT-REST dHash store (the weekly-
    * crawl read path): the %31 slice's images install the Bloom-
    * fronted store, the batch is everything else PLUS brightness-
    * shifted twins of stored images (%31 ∧ %10 — bytes match nothing
    * in the store, the dHash does), and every batch image reports
    * `kept` per the keeper rule (first carrier of a dHash the store
    * has never seen). The oracle replays the rule on what the hash is
    * contracted to mirror — text equality: min-id per text among the
    * batch, texts present in the store slice excluded. A Bloom false
    * negative, a store-probe miss, a twin surviving (invariance bug),
    * or a wrong within-batch election hash-fails. */
  def mm5ImageDedupStore(s: SparkSession, d: String): DataFrame = {
    val hexed = md5HexImages(
      Tables.documents(s, d).filter(col("doc_id") < 2000))
    val storeImgs = ppmFrame(s, hexed.filter(col("doc_id") % 31 === 0), 0L, 0)
    val batch = ppmFrame(s, hexed.filter(col("doc_id") % 31 =!= 0), 0L, 0)
      .unionByName(ppmFrame(s,
        hexed.filter(col("doc_id") % 31 === 0 && col("doc_id") % 10 === 0),
        500000000L, 1))
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/mm5_imgstore"
    Multimodal.writeImageDHashStore(storeImgs, dir,
      expectedTotalImages = 100000L)
    val keepers = Multimodal.imageDedupFromStore(batch, dir)
      .select(col("id").as("media_id"), lit(1).as("kept"))
    batch.select("media_id")
      .join(keepers, Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("kept"), lit(0)).as("kept"))
      .orderBy("media_id")
  }

  /** MM6 — the image-dedup INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingImageDedupIngest]] —
    * d23's loop with the perceptual dHash as the fingerprint): the
    * %31 slice installs the store, the mm5 batch (twins included)
    * streams as two AvailableNow micro-batches split by id parity,
    * and the PUBLISHED kept table is hashed against DuckDB replaying
    * the full cross-batch keeper rule — rn = 1 over (batch index,
    * media_id) per text, store slice excluded. A dropped store
    * append (batch-2 copy of a batch-1 image re-admitted), a flipped
    * batch order, a double publish, or a surviving brightness twin
    * hash-fails. */
  def mm6ImageDedupStream(s: SparkSession, d: String): DataFrame = {
    val hexed = md5HexImages(
      Tables.documents(s, d).filter(col("doc_id") < 2000))
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/mm6_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    import graft.core.PhaseTimer.timed
    timed("install") {
      Multimodal.writeImageDHashStore(
        ppmFrame(s, hexed.filter(col("doc_id") % 31 === 0), 0L, 0),
        storeDir, expectedTotalImages = 100000L)
    }
    val batch = ppmFrame(s, hexed.filter(col("doc_id") % 31 =!= 0), 0L, 0)
      .unionByName(ppmFrame(s,
        hexed.filter(col("doc_id") % 31 === 0 && col("doc_id") % 10 === 0),
        500000000L, 1))
    timed("fixtures") {
      writeOrderedBatches(s, inDir,
        Seq(batch.filter(col("media_id") % 2 === 0),
          batch.filter(col("media_id") % 2 =!= 0)))
    }
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    timed("stream") {
      val q = graft.streaming.EventStream.streamingImageDedupIngest(
          stream, storeDir, keptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    graft.sources.Sources.readPublished(s, keptDir)
      .select("media_id")
      .orderBy("media_id")
  }

  /** MM9 — the AUDIO-dedup INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingAudioDedupIngest]] —
    * mm6's loop with the volume-invariant Goertzel fingerprint),
    * proving the shared fingerprint store/stream seam end-to-end for
    * a second modality: the %31 slice installs the store (gain 1),
    * the rest of the corpus plus ×2-gain remasters of stored clips
    * streams as two AvailableNow micro-batches split by id parity,
    * and the PUBLISHED kept table is hashed against DuckDB replaying
    * the cross-batch keeper rule on what the fingerprint is
    * contracted to mirror — text equality (samples derive from the
    * text's md5 hex; the ×2 gain is provably fingerprint-invariant,
    * the mm7 IEEE argument). A dropped store append, a flipped batch
    * order, a double publish, or a surviving gain twin hash-fails. */
  def mm9AudioDedupStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hexed = md5HexImages(
      Tables.documents(s, d).filter(col("doc_id") < 2000))
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/mm9_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    def wavFrame(df: DataFrame, off: Long, gain: Int): DataFrame =
      df.as[(Long, String)].map { case (id, hex) =>
        // samples in ±1728·gain — gain 2 stays far from Short overflow
        val samples = hex.getBytes("US-ASCII")
          .map(c => (((c - 75) << 6) * gain).toShort)
        (id + off, Wav.encode(samples, 16000))
      }.toDF("media_id", "bytes")
    Multimodal.writeAudioFingerprintStore(
      wavFrame(hexed.filter(col("doc_id") % 31 === 0), 0L, 1),
      storeDir, expectedTotalClips = 100000L)
    val batch = wavFrame(hexed.filter(col("doc_id") % 31 =!= 0), 0L, 1)
      .unionByName(wavFrame(
        hexed.filter(col("doc_id") % 31 === 0 && col("doc_id") % 10 === 0),
        500000000L, 2))
    writeOrderedBatches(s, inDir,
      Seq(batch.filter(col("media_id") % 2 === 0),
        batch.filter(col("media_id") % 2 =!= 0)))
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = graft.streaming.EventStream.streamingAudioDedupIngest(
        stream, storeDir, keptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    graft.sources.Sources.readPublished(s, keptDir)
      .select("media_id")
      .orderBy("media_id")
  }

  /** MM10 — the VIDEO-dedup INGEST loop on the hard signal
    * ([[graft.streaming.EventStream.streamingVideoDedupIngest]] —
    * mm6's loop with the brightness-invariant luma-bin fingerprint),
    * closing the modality trio end-to-end through the shared
    * store/stream seam: the %31 slice's clips install the store
    * (shift 0), the rest of the corpus plus +16-brightness re-encodes
    * of stored clips streams as two AvailableNow micro-batches split
    * by id parity, and the PUBLISHED kept table is hashed against
    * DuckDB replaying the cross-batch keeper rule on text equality
    * (frames derive from the text's per-frame md5 masked to 0..127,
    * so the +16 shift never wraps a byte and is provably
    * fingerprint-invariant — the mm8 integer argument). A dropped
    * store append, a flipped batch order, a double publish, or a
    * surviving brightness twin hash-fails. */
  def mm10VideoDedupStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter(col("doc_id") < 2000)
      .select("doc_id", "text")
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/mm10_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val (storeDir, inDir) = (s"$base/store", s"$base/in")
    val (keptDir, ckpt) = (s"$base/kept", s"$base/ckpt")
    def vidFrame(df: DataFrame, off: Long, shift: Int): DataFrame =
      df.as[(Long, String)].map { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val frames = Array.tabulate(64) { f =>
          md.reset()
          // mask to 0..127 so the +16 twin can never wrap a byte
          md.digest((text + ":" + f).getBytes("UTF-8"))
            .map(b => ((b & 0x7F) + shift).toByte)
        }
        (id + off, Y4m.encode(16, 1, 25, frames))
      }.toDF("media_id", "bytes")
    Multimodal.writeVideoFingerprintStore(
      vidFrame(docs.filter(col("doc_id") % 31 === 0), 0L, 0),
      storeDir, expectedTotalClips = 100000L)
    val batch = vidFrame(docs.filter(col("doc_id") % 31 =!= 0), 0L, 0)
      .unionByName(vidFrame(
        docs.filter(col("doc_id") % 31 === 0 && col("doc_id") % 10 === 0),
        500000000L, 16))
    writeOrderedBatches(s, inDir,
      Seq(batch.filter(col("media_id") % 2 === 0),
        batch.filter(col("media_id") % 2 =!= 0)))
    val stream = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = graft.streaming.EventStream.streamingVideoDedupIngest(
        stream, storeDir, keptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).start()
    q.awaitTermination()
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/rag_chunk_index"
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/d25_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ann15_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    * replays every argmin bit-for-bit. Shared by the gate (engine
    * side) and the oracle-SQL generator in SparkEntry. */
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
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/ann19_stream"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val baseDir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t45_stream"
    val p = new org.apache.hadoop.fs.Path(baseDir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
      val q = graft.streaming.EventStream
        .streamingDedupByKey(stream, "ts", col("prompt_fp"), "conv_id")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t47_bm25"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t48_bm25"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${ProcessHandle.current.pid}/t51_bm25"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
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
}
