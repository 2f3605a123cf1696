package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact; one broadcast of the query
  * set, map-side scoring, per-query top-k — no shuffle of the corpus).
  * Scale path: random-hyperplane LSH bucketing — candidates share
  * signature bands, so the join is bounded and the corpus never
  * cross-joins itself.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, accumulated in
    * double (float accumulation loses ~1e−7 per element and would break
    * oracle parity). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Hot-path cosine: the native codegen'd expression (one fused loop,
    * no intermediate arrays) — bit-equal to `cosine` since accumulation
    * order and formula are identical. Registers the function
    * idempotently on the session. */
  private def nativeCosine(df: DataFrame)(a: Column, b: Column): Column = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    graft.plans.GraftFunctions.cosineSim(a, b)
  }

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. The query side is broadcast; the corpus is scanned
    * once map-side; per-query top-k is a bounded window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val scored = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(q, col("q_id") =!= col("n_id"))
      .withColumn("cos", nativeCosine(corpus)(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Hybrid re-rank: combine a candidate set's vector similarity with a
    * per-document metadata score (quality, freshness, source weight) and
    * keep the top k per query — the second stage of every production
    * retrieval pipeline (candidates from ANN, final order from the
    * hybrid score). Generator-agnostic: `candidates` is any
    * (q_id, rank, n_id, cos_sim) frame (bruteForceTopK / lshTopK /
    * ivfTopKFromIndex), so at corpus scale the ANN path feeds it the
    * same way the exact baseline does.
    *
    * Scale shape: the candidate set is queries × kCand rows — the TINY
    * side by construction — so Spark broadcasts it against the
    * corpus-sized score table and the scores never shuffle; the re-rank
    * window partitions over candidates only. `combined` is rounded to
    * 6 dp BEFORE ranking so the order is reproducible across engines
    * (ties → smaller neighbor id). CONTRACT: `scores` must cover every
    * candidate id — the join is inner, so an unscored candidate drops
    * out silently; outer-join a default upstream if partial coverage is
    * legitimate. */
  def hybridRerank(candidates: DataFrame, scores: DataFrame, k: Int,
                   alpha: Double, idCol: String,
                   scoreCol: String): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val s = scores.select(col(idCol).as("n_id"), col(scoreCol).as("_s"))
    val w = Window.partitionBy("q_id").orderBy(desc("combined"), asc("n_id"))
    candidates.join(s, "n_id")
      .withColumn("combined",
        round(col("cos_sim") * alpha + col("_s") * (1 - alpha), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "combined")
  }

  /** Random-hyperplane signature: `bits` sign bits of dot products with
    * seeded Gaussian hyperplanes, packed into a long. Cosine-similar
    * vectors agree on most bits (P[bit agree] = 1 − θ/π). */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    (0 until bits).map { b =>
      val dot = aggregate(
        zip_with(vec, lit(planes(b)), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Default fit-sample bound when the caller doesn't set one: centroid
    * quality needs a representative sample, not the corpus (the FAISS
    * convention — train the coarse quantizer on a bounded draw), so the
    * fit cost is corpus-size-independent at ANY scale. */
  private val DefaultFitCap = 100000

  /** Effective DEFAULT fit cap (fitCap = 0): [[DefaultFitCap]],
    * auto-shrunk when the centroid count is large so the driver-local
    * fit stays bounded — Lloyd is O(restarts · iters · n · k · dim)
    * single-node arithmetic, and the flat 100 k default walked into
    * minutes once k reached the thousands (the round-18 advisory). The
    * shrink reduces n (n·k ≤ 5·10⁷), never below 32 points per centroid
    * (the FAISS ~39·k training guidance, rounded down to a power of
    * two): centroid quality needs points-per-centroid, not corpus
    * coverage. An EXPLICIT fitCap is honored verbatim — that trade
    * (and the distributed-fit alternative for quantizers too big to
    * fit locally) is the caller's. k ≤ 500 keeps the full 100 k
    * default, so every in-repo index (k ≤ 64) is bit-unchanged. */
  private def defaultFitCapFor(nCells: Int): Int =
    math.min(DefaultFitCap.toLong,
      math.max(32L * nCells, 50000000L / math.max(nCells, 1))).toInt

  /** Deterministic local k-means: seeded k-means++ init + Lloyd
    * iterations over a DRIVER-SIDED bounded sample. The sample is
    * bounded by construction (≤ fitCap rows of subDim floats), so
    * pushing it through distributed MLlib KMeans bought nothing and
    * cost (init + iterations) scheduled Spark jobs PER FIT — profiling
    * round 18 measured 147 jobs for ann10_ivf_pq alone, ~0.1 s of
    * scheduling each on an otherwise idle 32-core box. One local fit
    * is a few ms of arithmetic and ZERO jobs, and — unlike k-means||,
    * whose init samples by partition-dependent RNG — it is exactly
    * reproducible from (points, k, seed) alone, independent of
    * partitioning and core count.
    *
    * Multi-restart: k-means|| earns its centroid quality from
    * oversampled init; a single k-means++ draw can land a visibly
    * worse local optimum (the ann16 recall floor caught exactly that).
    * Five seeded restarts — run concurrently, picked by lowest
    * within-cluster sum of squares — recover the quality while staying
    * exactly reproducible from (points, k, seed).
    *
    * Cost regime: O(restarts · iters · n · k · dim) driver arithmetic.
    * At the engine's fit bounds (n ≤ 100 k) this is sub-second up to
    * k·dim ≈ 10⁵; the DEFAULT fit cap auto-shrinks with k
    * ([[defaultFitCapFor]]) so a large-nCells deployment cannot walk
    * into a minutes-long driver fit by omission, and an explicit
    * `fitCap` sizes it deliberately (centroid quality needs
    * points-per-centroid, not corpus coverage).
    *
    * Lloyd polishes to convergence within [[lloydIters]] iterations:
    * locally an iteration is microseconds, so there is no iteration
    * knob — the distributed-era cost rationale for one (a scheduled
    * job per iteration) no longer applies. */
  private[operators] def localKMeans(points: Array[Array[Float]], k: Int,
                                     seed: Long)
      : Array[Array[Double]] = {
    import scala.collection.parallel.CollectionConverters._
    val restarts = 5
    val runs = (0 until restarts).par.map { r =>
      val cs = localKMeansOnce(points, k, seed + 1000L * r)
      var cost = 0.0
      val dim = points(0).length
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var bd = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var s = 0.0; var t = 0
          while (t < dim) { val df = p(t) - cs(c)(t); s += df * df; t += 1 }
          if (s < bd) bd = s
          c += 1
        }
        cost += bd
        i += 1
      }
      (cost, r, cs)
    }.toArray
    // lowest cost wins; ties break to the lowest restart index so the
    // result is independent of the parallel completion order
    runs.minBy(x => (x._1, x._2))._3
  }

  /** One seeded k-means++ + Lloyd run. Returns ≤ k centroids (fewer
    * when the sample has fewer distinct points — the MLlib behavior
    * callers already handle); assignment ties break to the lowest
    * centroid index, matching [[graft.functions.PqAssign]]'s rule;
    * empty clusters keep their previous centroid (deterministic;
    * matches the "duplicate centroids are harmless" posture of the
    * padding logic). */
  private def localKMeansOnce(points: Array[Array[Float]], k: Int,
                              seed: Long)
      : Array[Array[Double]] = {
    require(points.nonEmpty, "localKMeans: empty training sample")
    val n = points.length
    val dim = points(0).length
    def d2(p: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var t = 0
      while (t < dim) { val df = p(t) - c(t); s += df * df; t += 1 }
      s
    }
    // k-means++ init (seeded): first centroid uniform, each next drawn
    // with probability ∝ D² to the chosen set. All-zero residual D²
    // means every remaining point duplicates a centroid — stop early.
    val rnd = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    centers += points(rnd.nextInt(n)).map(_.toDouble)
    val minD2 = Array.tabulate(n)(i => d2(points(i), centers(0)))
    while (centers.length < k && minD2.exists(_ > 0)) {
      val total = minD2.sum
      var r = rnd.nextDouble() * total
      var i = 0
      while (i < n - 1 && r >= minD2(i)) { r -= minD2(i); i += 1 }
      // skip a zero-weight landing (floating-point walk edge): advance
      // to the next point with positive residual
      while (minD2(i) == 0.0) i = (i + 1) % n
      val c = points(i).map(_.toDouble)
      centers += c
      var j = 0
      while (j < n) {
        val d = d2(points(j), c)
        if (d < minD2(j)) minD2(j) = d
        j += 1
      }
    }
    val kk = centers.length
    val cs = centers.toArray
    // Lloyd: assign (first-min tie-break) + recompute means, polished
    // to (near-)convergence — early-stop when no centroid moved ≥ 1e-12
    var moved = true
    var iter = 0
    while (iter < lloydIters && moved) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val d = d2(points(i), cs(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best); val p = points(i)
        var t = 0
        while (t < dim) { s(t) += p(t); t += 1 }
        i += 1
      }
      moved = false
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          val s = sums(c)
          var t = 0
          while (t < dim) {
            val nv = s(t) / counts(c)
            if (math.abs(nv - cs(c)(t)) >= 1e-12) moved = true
            cs(c)(t) = nv
            t += 1
          }
        } // empty cluster: keep previous centroid
        c += 1
      }
      iter += 1
    }
    cs
  }

  /** Lloyd iteration budget of every local k-means fit (IVF cells, PQ
    * sub-codebooks); fits usually converge well before it. */
  private val lloydIters = 25

  /** Draw the bounded, deterministic fit sample (the engine's seeded
    * xxhash64-rank draw, not a bare limit — limit takes the
    * first-scanned partitions, a skewed marginal in any time-/source-
    * ordered corpus; TakeOrdered keeps it a per-partition heap, never
    * a global sort) and collect it: ≤ cap rows of floats — bounded by
    * construction, the DistributedRank collect convention. */
  private def collectFitSample(corpus: DataFrame, vecCol: String,
                               cap: Int, seed: Long): Array[Array[Float]] =
    // explicit array<float> cast: a double-array embedding column would
    // otherwise ClassCastException deep inside getSeq[Float] (the
    // replaced MLlib path cast implicitly). On float input SimplifyCasts
    // removes it, so the seeded rank draw is bit-identical to the
    // uncast plan; on double input the sample is the float-narrowed
    // vector — the same narrowing the assign kernel applies.
    corpus.select(col(vecCol).cast("array<float>").as("_vec"))
      .orderBy(xxhash64(col("_vec"), lit(seed)),
        xxhash64(col("_vec"), lit(seed + 1)))
      .limit(cap)
      .collect()
      .map(_.getSeq[Float](0).toArray)

  /** Seeded k-means coarse quantizer: every corpus vector assigned to a
    * cell. 5 iterations is plenty for bucketing — recall is governed by
    * nProbe, not centroid polish. The fit runs LOCALLY on a bounded
    * deterministic sample (fitCap, default 100 k — see [[localKMeans]]
    * for why distributed KMeans was the wrong tool for a by-construction
    * bounded sample); the ASSIGNMENT is the native
    * [[graft.functions.PqAssign]] kernel over the broadcast centroid
    * literal — map-side over everything, no shuffle, no MLlib vector
    * conversion. Returns the quantized corpus (n_id, n_vec, cell) and
    * the centroid table. */
  private[operators] def quantize(corpus: DataFrame, nCells: Int, seed: Long,
                                  idCol: String, vecCol: String,
                                  fitCap: Int = 0)
      : (DataFrame, Seq[(Int, Array[Float])]) = {
    val cap = if (fitCap > 0) fitCap else defaultFitCapFor(nCells)
    val fitPts = collectFitSample(corpus, vecCol, cap, seed)
    require(fitPts.nonEmpty,
      "quantize: the corpus is empty — an IVF index needs at least one vector")
    val cs = localKMeans(fitPts, nCells, seed)
    val centroids = cs.zipWithIndex.map { case (c, i) =>
      (i, c.map(_.toFloat))
    }.toSeq
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    (cells, centroids)
  }

  /** Nearest-centroid assignment via the single-subspace PqAssign
    * kernel: squared-euclidean argmin, first index on ties — one
    * compiled loop per row over the broadcast centroid literal. */
  private[operators] def assignCells(corpus: DataFrame,
                                     centroids: Seq[(Int, Array[Float])],
                                     idCol: String, vecCol: String): DataFrame = {
    val cb = Seq(centroids.map(_._2.toSeq))
    // array<float> cast before the kernel: ArrayData.toFloatArray on a
    // double-array column MISREADS (element width), it doesn't throw —
    // the cast narrows double input correctly and is optimizer-removed
    // on float input (SimplifyCasts), leaving the plan unchanged
    val enc = graft.plans.GraftFunctions.pqAssign(corpus.sparkSession,
      col(vecCol).cast("array<float>"), cb)
    corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        enc.getField("code").getItem(0).as("cell"))
  }

  /** Query → its nProbe nearest cells (nCells centroids, broadcast). */
  private def probes(queries: DataFrame, centroids: Seq[(Int, Array[Float])],
                     nProbe: Int, idCol: String, vecCol: String): DataFrame = {
    val centroidDf = broadcast(
      queries.sparkSession.createDataFrame(centroids).toDF("cell", "c_vec"))
    queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .crossJoin(centroidDf)
      .withColumn("c_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("c_sim"), asc("cell"))))
      .filter(col("c_rank") <= nProbe)
      .select("q_id", "q_vec", "cell")
  }

  /** Exact cosine top-k inside the probed cells. */
  private def scoreProbed(cells: DataFrame, qProbes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    broadcast(qProbes).join(cells, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", nativeCosine(cells)(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** IVF (inverted-file) approximate top-k: a seeded k-means coarse
    * quantizer assigns every corpus vector to a cell; a query probes only
    * its `nProbe` nearest cells and scores exact cosine inside them.
    * Per-query work is corpus/nCells × nProbe. For the at-rest layout
    * where probing prunes the SCAN, see `writeIvfIndex` /
    * `ivfTopKFromIndex`. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cells, centroids) = quantize(corpus, nCells, seed, idCol, vecCol)
    scoreProbed(cells, probes(queries, centroids, nProbe, idCol, vecCol), k)
  }

  /** Metadata-filtered ANN ("filtered vector search"): IVF top-k where
    * only corpus vectors whose id appears in `allowed` may be returned —
    * the production retrieval shape where a vector query carries a
    * relational predicate (language, license, date range, tenant).
    *
    * The filter is applied to the CELL side before scoring (a left-semi
    * join on the id), not to the emitted top-k after it — post-filtering
    * would under-fill k wherever the predicate is selective, the classic
    * filtered-ANN failure mode. Pre-filtering keeps k filled from
    * survivors at the cost of the semi-join, which at scale is the
    * cheap side: `allowed` is a skinny id set (one column), so AQE
    * broadcasts it when small and hash-joins on the 8-byte key when
    * not; the vectors themselves never shuffle for the filter. With
    * `nProbe = nCells` the result is EXACTLY brute-force over the
    * filtered corpus (every cell probed), the oracle convention; at
    * scale, probe selectivity applies on top of the predicate. */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      allowed: DataFrame, allowedIdCol: String,
                      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cells, centroids) = quantize(corpus, nCells, seed, idCol, vecCol)
    val live = cells.join(
      allowed.select(col(allowedIdCol).as("n_id")), Seq("n_id"), "left_semi")
    scoreProbed(live, probes(queries, centroids, nProbe, idCol, vecCol), k)
  }

  /** Distributed k-NN join: every corpus vector finds its k nearest
    * neighbors — the neighbor-graph builder under SemDeDup/D4-style
    * curation, near-dup mining, and diversity scoring. Unlike
    * `ivfTopK`, the QUERY side here is corpus-sized, so nothing about
    * it may broadcast: vectors are cell-assigned by the seeded coarse
    * quantizer, each vector probes its `nProbe` nearest cells, and the
    * probe assignments join the cell contents on the cell id — a plain
    * shuffle hash join keyed by cell, the only exchange that touches
    * vectors.
    *
    * Scale shape: candidate volume is |corpus| × nProbe × (|corpus| /
    * nCells) expected — the knob pair (nCells, nProbe) prices recall
    * against compute exactly as in `ivfTopK`, and at 100 TB nCells
    * grows with the corpus to hold the per-cell candidate count flat.
    * The per-query top-k window partitions by query id over probed-cell
    * candidates only (bounded by cell geometry, never the corpus); a
    * skewed cell is AQE's skew-join case, and rebalancing it is the
    * quantizer's job (`shouldRebuildIvf` measures exactly this). With
    * `nProbe = nCells` the join IS the exact all-pairs search — the
    * oracle convention at fixture scale. */
  def knnJoin(corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              fitCap: Int = 0): DataFrame = {
    // fitCap bounds the QUANTIZER fit (nCells grows with the corpus, so
    // an unbounded k-means fit would be the one super-linear term —
    // trainPq's argument); assignment stays map-side over everything
    val (cells, centroids) = quantize(corpus, nCells, seed, idCol, vecCol,
      fitCap = fitCap)
    val qProbes = probes(corpus, centroids, nProbe, idCol, vecCol)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    qProbes.join(cells, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", nativeCosine(cells)(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — the standard way to
    * merge a lexical and a vector run without score calibration):
    * rrf(d) = Σ_runs 1/(c + rank_run(d)), absent-from-one-run docs
    * contribute only the run they appear in (full-outer on the
    * (query, doc) key). Pure rank arithmetic — identical doubles in
    * any engine, no score-scale assumptions; rounded to 6 dp before
    * the final ranking, ties to the smaller doc id.
    *
    * Scale shape: both runs are queries×k rows (tiny by construction),
    * one full-outer hash join + one bounded per-query window. */
  def rrfFuse(runA: DataFrame, runB: DataFrame, k: Int,
              c: Int = 60): DataFrame = {
    def side(df: DataFrame, out: String) = df.select(col("q_id"),
      col("n_id"), (lit(1.0) / (col("rank") + lit(c))).as(out))
    val joined = side(runA, "_sa").join(side(runB, "_sb"),
        Seq("q_id", "n_id"), "full_outer")
      .na.fill(0.0, Seq("_sa", "_sb"))
      .withColumn("rrf", round(col("_sa") + col("_sb"), 6))
    val w = Window.partitionBy("q_id").orderBy(desc("rrf"), asc("n_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("rrf"))
  }

  /** Seed-medoid cell assignment: every corpus vector lands in the cell
    * of its most-similar SEED vector (argmax cosine, ties to the
    * smaller seed id). The deterministic, engine-portable alternative
    * to the k-means quantizer: centroids are data rows chosen by the
    * caller (canopy/medoid bucketing), so the assignment is pure
    * arithmetic any engine replays bit-for-bit — which makes
    * cluster-BALANCED selection (see `llm_diversity_sample`) a hashable
    * pipeline, where k-means cells are JVM-only state.
    *
    * Scale shape: the seed table is the bounded side (cells, not
    * corpus) and broadcasts; the corpus is scanned ONCE and the argmax
    * is a struct-max AGGREGATION, not a window — the |seeds|-row
    * fan-out collapses map-side (partial agg) before the exchange, so
    * the only shuffle carries one skinny (id, best) row per vector and
    * the wide embeddings never leave the scan. Output:
    * (idCol, cell, cell_sim 6dp). */
  def medoidAssign(corpus: DataFrame, seeds: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   seedIdCol: String = "seed_id"): DataFrame = {
    val s = broadcast(seeds.select(col(seedIdCol).as("_cell"),
      col(vecCol).as("_sv")))
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(s)
      .withColumn("_csim", nativeCosine(corpus)(col(vecCol), col("_sv")))
      // max over (sim, -cell): highest similarity wins, ties to the
      // SMALLER seed id — the engine's deterministic-keeper convention
      .groupBy(col(idCol))
      .agg(max(struct(col("_csim").as("s"), (-col("_cell")).as("nc"))).as("_b"))
      .select(col(idCol), (-col("_b.nc")).as("cell"),
        round(col("_b.s"), 6).as("cell_sim"))
  }

  /** IVF index at rest: the quantized corpus written under
    * `$path/cells/batch=0` partitioned by cell, the CENTROIDS persisted
    * at `$path/centroids` with an `_meta.json` (nCells, kmeansSeed,
    * formatVersion) — the index is self-contained, so a later session
    * (or `appendToIvfIndex`) needs only the path, never the driver
    * value. Returns the centroid table for immediate use. This is the
    * embedding-scale layout — the index is built once, every probe
    * afterwards reads only its cells' files, and growth lands as
    * idempotent per-batch overwrites (`appendToIvfIndex`), the same
    * convention as the near-dup store. */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    nCells: Int = 16, seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[(Int, Array[Float])] = {
    val spark = corpus.sparkSession
    // appended cells were quantized under the OLD centroids and old
    // tombstones name ids the fresh corpus may reuse — a reinstall over
    // a grown index must not mix them with the new fit
    graft.operators.StoreMaintenance.requireInputNotFromStore(
      corpus, path, "writeIvfIndex")
    graft.operators.StoreMaintenance.clearForReinstall(spark, path,
      Seq("cells", "tombstones"))
    val (cells, centroids) = quantize(corpus, nCells, seed, idCol, vecCol)
    cells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells/batch=0")
    spark.createDataFrame(centroids).toDF("cell", "c_vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    StoreMaintenance.publishMeta(spark, path, formatVersion = "1",
      Map("nCells" -> nCells.toString, "kmeansSeed" -> seed.toString))
    centroids
  }

  /** Centroids of an at-rest IVF index — nCells tiny rows. */
  def loadIvfCentroids(spark: SparkSession, path: String)
      : Seq[(Int, Array[Float])] =
    spark.read.parquet(s"$path/centroids")
      .select("cell", "c_vec")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** Grow an at-rest IVF index without re-clustering: assign each batch
    * vector to its nearest EXISTING centroid (squared-euclidean, the
    * k-means assignment rule — cosine would disagree with the base
    * install's quantizer on unnormalized vectors) and land the
    * assignments under `$path/cells/batch=<id>`, cell-partitioned like
    * the base batch. IDEMPOTENT PER BATCH by overwrite — foreachBatch's
    * stable batchId keys replays, every crash-and-replay interleaving
    * converges (the near-dup store's convention). Centroids are read
    * from the index itself, so writer and grower can be different
    * sessions. Centroid DRIFT is the documented trade: appended mass
    * shifts true cluster centers, probe quality degrades gradually —
    * monitor per-cell counts (one groupBy) and rebuild when skew says
    * so; same policy every production IVF service runs. */
  def appendToIvfIndex(batch: DataFrame, path: String, batchId: Long,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    // batchId namespace is the CALLER's contract: one writer lineage per
    // store (a stream's ids and a manual backfill's ids must not
    // collide — an overwrite under a reused id silently replaces the
    // earlier batch)
    require(batchId > 0, "batchId 0 is the base install (writeIvfIndex)")
    val spark = batch.sparkSession
    val centroidDf = broadcast(
      spark.createDataFrame(loadIvfCentroids(spark, path))
        .toDF("cell", "c_vec"))
    val dist2 = aggregate(
      zip_with(col("n_vec"), col("c_vec"),
        (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)
    val rows = batch.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    // the vector payload is dropped BEFORE any exchange: the broadcast
    // cross join and d2 arithmetic are map-side, so only skinny
    // (n_id, cell, _d2) rows reach the argmin aggregate (map-side
    // combinable struct-min — a per-id rank window here would shuffle
    // every vector nCells times); the elected cell then joins back to
    // the payload by id, one exchange of the batch
    val best = rows.crossJoin(centroidDf)
      .select(col("n_id"), col("cell"), dist2.as("_d2"))
      .groupBy("n_id")
      .agg(min(struct(col("_d2"), col("cell"))).as("_m"))
      .select(col("n_id"), col("_m.cell").as("cell"))
    rows.join(best, "n_id")
      .select(col("n_id"), col("n_vec"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells/batch=$batchId")
  }

  /** Tombstone DELETES for an at-rest index — the removal half of
    * incremental index maintenance (GDPR takedowns, de-published docs,
    * content-changed re-embeds), ONE convention shared by the IVF and
    * PQ stores (both carry (n_id, …, batch) rows; the tombstone dir is
    * store-shape-agnostic). The ids land under
    * `$path/tombstones/batch=<id>` (batch-keyed idempotent overwrite,
    * the append convention — replays converge bit-for-bit); consumers
    * apply the BATCH-SCOPED rule: a stored row in batch b is dead iff
    * a tombstone for its id exists in a batch > b. Strictly-greater is
    * what makes remove-then-append under ONE batchId the changed-doc
    * idiom: the tombstone (batch N) kills the stale row (batch
    * < N) while the re-embedded row landing in batch N survives.
    * Deleted bytes still sit in old store files until a rebuild
    * compacts them away ([[rebuildIvfIndex]] honors tombstones; the PQ
    * store's rebuild is a fresh [[writePqIndex]] from the corpus — it
    * never stored raw vectors to rebuild from); [[ivfCellStats]]
    * deliberately counts them — probe cost follows bytes scanned, not
    * liveness.
    *
    * CAPACITY POSTURE: readers broadcast the whole tombstone table
    * ((id, batch) — 16 bytes/row), so sustained churn without a
    * rebuild grows the anti-join's broadcast side; past ~1e8
    * accumulated tombstones (≈1.6 GB) the rebuild is overdue — the
    * same monitor-and-rebuild policy as centroid drift
    * ([[shouldRebuildIvf]]), and [[rebuildIvfIndex]] resets the count
    * to zero by construction. */
  private def writeTombstones(ids: DataFrame, path: String, batchId: Long,
                              idCol: String): Unit = {
    require(batchId > 0, "tombstone batches are writer-lineage-keyed like appends")
    ids.select(col(idCol).as("n_id")).distinct()
      .write.mode("overwrite").parquet(s"$path/tombstones/batch=$batchId")
  }

  /** IVF-store deletes — see [[writeTombstones]] for the rule. */
  def removeFromIvfIndex(ids: DataFrame, path: String, batchId: Long,
                         idCol: String = "vec_id"): Unit =
    writeTombstones(ids, path, batchId, idCol)

  /** PQ-store deletes — same tombstone convention ([[writeTombstones]]);
    * [[pqTopKFromIndex]] ADC-scores only live codes. */
  def removeFromPqIndex(ids: DataFrame, path: String, batchId: Long,
                        idCol: String = "vec_id"): Unit =
    writeTombstones(ids, path, batchId, idCol)

  /** The tombstone table of an index, if any — (n_id, batch) rows. */
  private def storeTombstones(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(s"$path/tombstones")
      .select(col("n_id").as("_t_id"), col("batch").as("_t_batch")))
    else None
  }

  /** Drop dead rows from a (n_id, …, batch) cell frame under the
    * batch-scoped tombstone rule. */
  private def liveRows(cells: DataFrame, tombs: Option[DataFrame])
      : DataFrame = tombs match {
    case None => cells
    case Some(t) => cells.join(broadcast(t),
      cells("n_id") === t("_t_id") && t("_t_batch") > cells("batch"),
      "left_anti")
  }

  /** Every LIVE (n_id, n_vec) row of an at-rest IVF index under the
    * batch-scoped tombstone rule — the serving-side contract surface
    * ([[ivfTopKFromIndex]] probes exactly this set, cell-pruned). One
    * scan of the cells plus a broadcast anti join against the (tiny)
    * tombstone table; exposed so maintenance invariants ("the index
    * serves exactly the current snapshot") are checkable without going
    * through a top-k query. */
  def liveIndexRows(spark: SparkSession, path: String): DataFrame =
    liveRows(
      spark.read.parquet(s"$path/cells")
        .select("n_id", "n_vec", "cell", "batch"),
      storeTombstones(spark, path))
      .select("n_id", "n_vec", "cell")

  /** Incremental RE-EMBED — [[graft.metrics.ReleaseGate.incrementalReprocess]]'s
    * twin for the vector side, completing the snapshotDiff story
    * ("only changed+added need re-cleaning/RE-EMBEDDING"): removed and
    * changed docs' stale vectors are tombstoned, changed and added
    * docs are embedded (`embed` must be per-doc pure, the m16
    * contract) and appended under the SAME batchId — the
    * strictly-greater tombstone rule keeps the fresh vectors alive.
    * After the call, the index serves EXACTLY the new snapshot's
    * vectors (spec-pinned); `same` docs' vectors are never recomputed
    * or rewritten — at 100 TB the weekly moved sliver is a few
    * percent of the corpus, and embedding is the expensive stage.
    * Replay-idempotent: both halves are batch-keyed overwrites. */
  def incrementalReembedIvf(oldSnap: DataFrame, newSnap: DataFrame,
                            embed: DataFrame => DataFrame,
                            path: String, batchId: Long,
                            idCol: String, textCol: String,
                            vecCol: String = "embedding"): Unit = {
    val diff = graft.metrics.ReleaseGate
      .snapshotDiff(oldSnap, newSnap, idCol, textCol)
      .localCheckpoint() // two consumers of one skinny (id, status) frame
    removeFromIvfIndex(
      diff.filter(col("status").isin("removed", "changed"))
        .select(col("id")), path, batchId, "id")
    val moved = diff.filter(col("status").isin("added", "changed"))
      .select(col("id").as(idCol))
    appendToIvfIndex(
      embed(newSnap.join(moved, Seq(idCol), "left_semi")),
      path, batchId, idCol, vecCol)
  }

  /** Per-cell occupancy distribution of an at-rest IVF index — the
    * MEASUREMENT behind `appendToIvfIndex`'s documented drift policy
    * ("monitor per-cell counts and rebuild when skew says so"), as one
    * reusable diagnostic instead of a guess. Reuses
    * [[graft.ops.Skew.skewStats]] over the index's `cell` partition
    * column: one map-side-combinable count per cell, then a single
    * ~16-byte-row aggregate over the nCells counts. The projection is
    * the partition column only, so no vector payload is read — at any
    * index size this is a metadata-weight pass across all landed
    * batches. `skew_ratio` here is exactly the probe-cost straggler
    * multiplier: a probe of the hottest cell scores max_n vectors
    * where a balanced index would score mean_n. */
  def ivfCellStats(spark: SparkSession, path: String,
                   topK: Int = 10): DataFrame =
    graft.ops.Skew.skewStats(
      spark.read.parquet(s"$path/cells").select("cell"), "cell", topK)

  /** The rebuild decision as a pure, spec-pinnable rule (the
    * `dropSetBroadcastable` routing pattern): re-run `writeIvfIndex`
    * when the hottest cell holds `maxSkewRatio`× the mean occupancy
    * (probe latency is cell-size-proportional, so that ratio IS the
    * straggler multiplier queries see), or when cells have gone EMPTY
    * (`nonEmptyCells < nCells`: appended mass drifted off part of the
    * quantizer, so nProbe slots are wasted on dead cells and the rest
    * of the index fattens). Thresholds are policy — pass the tolerance
    * the serving SLO implies; 4× default matches the common "rebuild
    * at quartile imbalance" rule of thumb. */
  def shouldRebuildIvf(nCells: Int, nonEmptyCells: Long, skewRatio: Double,
                       maxSkewRatio: Double = 4.0): Boolean =
    skewRatio > maxSkewRatio || nonEmptyCells < nCells

  /** The rebuild ACTION — the last arc of the drift loop
    * (`ivfCellStats` measures, [[shouldRebuildIvf]] decides, this
    * acts): every vector across every landed batch of the old index is
    * re-clustered from scratch into a fresh index at `dstPath`
    * (quantizer fitted on a UNIFORM seeded draw over the full current
    * population — capped at `quantize`'s bounded fit sample, the FAISS
    * convention — so appended mass gets its proportional share of
    * centroids, the thing nearest-existing-centroid appends
    * structurally cannot give it; the ASSIGNMENT still covers every
    * live vector).
    * Writes to a NEW path, the [[graft.sources.Sources.compactParquet]]
    * convention: swapping the serving index is the caller's commit
    * protocol (a symlink flip, a config push — serving-stack policy,
    * not engine policy), and the old index keeps serving until then —
    * rebuilds are rare, planned events, not hot-path work. Returns the
    * new centroids. */
  def rebuildIvfIndex(spark: SparkSession, path: String, dstPath: String,
                      nCells: Int = 16, seed: Long = 42L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding")
      : Seq[(Int, Array[Float])] = {
    // an in-place rebuild would have writeIvfIndex's reinstall clear
    // DELETE the source cells this lazy frame reads from before the
    // k-means fit ever materializes them — irrecoverable data loss
    // preceding the first error; the side-by-side contract is a require
    // over fs-QUALIFIED, symlink-CANONICAL paths (a raw-URI compare lets
    // relative-vs-absolute, file://-vs-plain, or symlinked aliases of
    // the same dir dodge the guard and lose the store anyway)
    val hconf = spark.sparkContext.hadoopConfiguration
    def canon(p: String): java.net.URI = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val q = hp.getFileSystem(hconf).makeQualified(hp)
      if (q.toUri.getScheme == "file")
        new java.io.File(q.toUri.getPath).getCanonicalFile.toURI
      else q.toUri
    }
    require(canon(dstPath) != canon(path),
      s"rebuildIvfIndex must build SIDE BY SIDE (src == dst: $path) — " +
        "swap the serving path after the build, never rebuild in place")
    // honor tombstones: a rebuild is exactly where deleted bytes are
    // compacted away — the fresh index carries no tombstone dir
    val all = liveRows(spark.read.parquet(s"$path/cells"),
        storeTombstones(spark, path))
      .select(col("n_id").as(idCol), col("n_vec").as(vecCol))
    writeIvfIndex(all, dstPath, nCells, seed, idCol, vecCol)
  }

  /** Top-k against an at-rest IVF index: the scan is filtered to the
    * union of all queries' probed cells, which Spark turns into
    * PARTITION PRUNING — the cluster reads ≤ queries×nProbe cell
    * directories instead of the corpus (asserted in IvfReconcileSpec),
    * across every landed batch. Same answers as `ivfTopK` with the same
    * quantizer seed (plus appended batches, if any). Explicit
    * projection: `batch` is a discovered partition column and must not
    * ride into scoring. */
  def ivfTopKFromIndex(path: String, centroids: Seq[(Int, Array[Float])],
                       queries: DataFrame, k: Int, nProbe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val qProbes = probes(queries, centroids, nProbe, idCol, vecCol)
    // tiny driver round-trip: ≤ queries × nProbe cell ids
    val probedCells = qProbes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val cells = liveRows(
        spark.read.parquet(s"$path/cells")
          .filter(col("cell").isin(probedCells.toIndexedSeq.map(Integer.valueOf): _*))
          .select("n_id", "n_vec", "cell", "batch"),
        storeTombstones(spark, path))
      .select("n_id", "n_vec", "cell")
    scoreProbed(cells, qProbes, k)
  }

  /** LSH-bucketed approximate top-k: candidates must share at least one
    * of the `bands` signature bands with the query; exact cosine is then
    * computed only for candidates. Bounded join instead of cross join —
    * the 100 TB path. Recall < 1 by construction (tested vs brute force). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              bits: Int = 16, bands: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(bits % bands == 0)
    val r = bits / bands
    val mask = (1L << r) - 1
    def banded(df: DataFrame, id: String, vec: String): DataFrame = {
      // project the signature once — deriving each band from a fresh
      // hyperplaneSignature expression would recompute all `bits` dot
      // products per band
      val withSig = df.select(col(id), col(vec),
        hyperplaneSignature(col(vec), dim, bits).as("_sig"))
      val bandCols = (0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("_sig"), b * r).bitwiseAND(mask).as("bh")))
      withSig.select(col(id), explode(array(bandCols: _*)).as("bb"))
        .select(col(id), col("bb.band").as("band"), col("bb.bh").as("bh"))
    }
    // candidates dedupe on ids ONLY (distinct over vector payloads would
    // compare whole arrays); vectors join back afterwards
    val qb = broadcast(banded(queries, idCol, vecCol).withColumnRenamed(idCol, "q_id"))
    val candIds = banded(corpus, idCol, vecCol).withColumnRenamed(idCol, "n_id")
      .join(qb, Seq("band", "bh"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val qVecs = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val cands = candIds
      .join(qVecs, "q_id")
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), "n_id")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    cands.withColumn("cos", nativeCosine(corpus)(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos_sim"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // quantization for nearest neighbor search"): each vector is split
  // into `m` subvectors, each quantized against a per-subspace codebook
  // of `k` centroids; a vector becomes m small codes (m bytes at
  // k ≤ 256) — here 64 floats (256 B) → 8 ints, a ~32× payload
  // compression. Search is ADC (asymmetric distance computation): the
  // QUERY stays exact, each query precomputes an m×k lookup table of
  // subspace dot products once, and scoring a corpus code is m table
  // lookups instead of a dim-length float loop. At 100 TB this is the
  // memory story: the scored corpus carries codes, never raw vectors.
  // ---------------------------------------------------------------------

  /** Trained PQ codebooks: centroids(j)(c) is centroid `c` of subspace
    * `j` (subDim floats each) and norm2(j)(c) its squared L2 norm —
    * m·k·subDim floats in total, a literal-sized object that travels in
    * the PLAN, not a table. */
  case class PqCodebooks(m: Int, k: Int, subDim: Int,
                         centroids: Array[Array[Array[Float]]],
                         norm2: Array[Array[Double]])

  /** Train per-subspace codebooks with seeded k-means over a BOUNDED
    * sample (`sampleCap` rows) — codebook quality needs a representative
    * sample, not the corpus, so training cost is corpus-size-independent
    * (the IVF `quantize` argument, per subspace). One KMeans fit per
    * subspace over the persisted sample projection.
    *
    * Choosing `m` (measured, RecallProbe / NOTES round 13): `m` — the
    * subspace count — is the recall knob that matters at dim 64, not
    * re-rank depth. subDim = dim/m of 8 (m = 8) left re-ranked recall
    * at 0.48–0.72 across the testdata SFs even at depth 100, while
    * m = 16 (subDim 4) reached 0.74–0.96 at depth 50 for ~1.5× ADC
    * cost. Prefer subDim ≤ 4 on unstructured embeddings; the m = 8
    * default matches the classic 8-byte-code layout for
    * memory-constrained corpora.
    *
    * Each sub-codebook fit polishes to convergence (see
    * [[localKMeansOnce]]) — locally an iteration is microseconds, so
    * there is no iteration knob to trade centroid quality for. */
  def trainPq(corpus: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
              seed: Long = 42L, sampleCap: Int = 100000,
              vecCol: String = "embedding"): PqCodebooks = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    // one seeded-hash TakeOrdered draw + collect (see collectFitSample
    // — bounded by `sampleCap` at any corpus size), then the m
    // sub-codebook fits run as LOCAL deterministic k-means over slices
    // of the collected sample: zero Spark jobs per fit where the
    // previous distributed-MLlib path scheduled (init + iterations) jobs
    // × m subspaces over a driver-sized sample (the round-18 profile:
    // ann10 ran 147 sub-second jobs, nearly all of them these fits).
    val pts = collectFitSample(corpus, vecCol, sampleCap, seed)
    require(pts.nonEmpty,
      "trainPq: the training corpus is empty — codebooks need at least one vector")
    import scala.collection.parallel.CollectionConverters._
    val centroids = (0 until m).par.map { j =>
      val sub = pts.map(v => java.util.Arrays.copyOfRange(v, j * subDim,
        (j + 1) * subDim))
      // seed + j: subspaces must not share init — identical seeds on
      // near-identical marginals would correlate codebook errors
      val cs = localKMeans(sub, k, seed + j).map(_.map(_.toFloat))
      // fewer DISTINCT points than k ⇒ fewer centers come back; pad by
      // repeating the last so codebooks stay rectangular (duplicate
      // centroids are harmless: argmin takes the first)
      if (cs.length < k) cs ++ Array.fill(k - cs.length)(cs.last) else cs
    }.toArray
    val norm2 = centroids.map(_.map(c =>
      c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    PqCodebooks(m, k, subDim, centroids, norm2)
  }

  /** Encode a corpus against trained codebooks: (n_id, code, recon_norm)
    * where code(j) = nearest centroid of subspace j (squared-euclidean,
    * the k-means rule) and recon_norm = |reconstruction|² (precomputed
    * here so ADC scoring never touches centroid arrays per pair). Pure
    * map-side Catalyst expressions over broadcast-literal codebooks —
    * no shuffle, no UDF; the output is the ~32×-smaller at-rest scoring
    * payload. */
  def pqEncode(corpus: DataFrame, cb: PqCodebooks,
               idCol: String = "vec_id", vecCol: String = "embedding",
               carry: Seq[String] = Nil): DataFrame = {
    // ONE native kernel call per row (graft.functions.PqAssign) — the
    // composed m×k aggregate(zip_with) distance folds evaluated
    // interpreted (NOTES gotcha 26) and encode is the PQ family's bulk
    // map pass. array<float> cast for the same reason as assignCells:
    // toFloatArray misreads double arrays; no-op on float input.
    val enc = graft.plans.GraftFunctions.pqAssign(corpus.sparkSession,
      col(vecCol).cast("array<float>"), cb.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    corpus
      .select(col(idCol).as("n_id") +: (carry.map(col) :+ enc.as("_enc")): _*)
      .select(col("n_id") +: (carry.map(col) ++ Seq(
        col("_enc.code").as("code"),
        col("_enc.recon_norm").as("recon_norm"))): _*)
  }

  /** ADC approximate top-k over a PQ-encoded corpus. Each query builds
    * its m×k dot-product lookup table ONCE (m·k·subDim work, map-side on
    * the tiny query frame); scoring a corpus code is then m lookups + m
    * adds — per-pair cost O(m), not O(dim), and the corpus side carries
    * only (id, code, recon_norm). cos_sim is the exact cosine between
    * the query and the RECONSTRUCTED corpus vector, so it lies in
    * [−1, 1] and ranks identically to ADC inner-product score. Queries
    * broadcast (the ann1 contract: queries ≪ corpus). */
  def pqTopK(encoded: DataFrame, cb: PqCodebooks, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qSubCols = (0 until cb.m).map(j =>
      slice(col(vecCol), j * cb.subDim + 1, cb.subDim).as(s"_q$j"))
    val qSliced = queries.select(col(idCol).as("q_id") +: qSubCols: _*)
    val lutCols = (0 until cb.m).map { j =>
      val cents = typedLit(cb.centroids(j).map(_.toSeq).toSeq)
      transform(cents, c =>
        aggregate(zip_with(col(s"_q$j"), c, (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v)).as(s"_lut$j")
    }
    val qLuts = qSliced
      .select(col("q_id") +: lutCols: _*)
      .join(queries.select(col(idCol).as("q_id"),
        sqrt(aggregate(col(vecCol), lit(0.0),
          (a, v) => a + v.cast("double") * v.cast("double"))).as("q_norm")),
        "q_id")
    val luts = array((0 until cb.m).map(j => col(s"_lut$j")): _*)
    val dot = aggregate(
      zip_with(luts, col("code"), (l, c) => element_at(l, c + 1)),
      lit(0.0), (a, v) => a + v)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    broadcast(qLuts).crossJoin(encoded)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos",
        dot / greatest(col("q_norm") * sqrt(col("recon_norm")), lit(1e-12)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** PQ index at rest: encoded codes under `$path/codes/batch=0`, the
    * codebooks persisted at `$path/codebooks` (m·k tiny rows) with an
    * `_meta.json` (m, k, subDim, pqSeed, formatVersion) — self-contained
    * like the IVF layout (`writeIvfIndex`), so encoder and searcher can
    * be different sessions. The at-rest payload is the ~32×-compressed
    * (id, code, recon_norm) frame — raw vectors deliberately do NOT
    * land here; exact re-rank reads them from the source corpus table
    * by id. Growth lands as idempotent per-batch overwrites
    * ([[appendToPqIndex]]). Returns the codebooks for immediate use. */
  def writePqIndex(corpus: DataFrame, path: String, dim: Int,
                   m: Int = 8, k: Int = 16, seed: Long = 42L,
                   sampleCap: Int = 100000,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : PqCodebooks = {
    val cb = trainPq(corpus, dim, m, k, seed, sampleCap, vecCol)
    installPqIndex(corpus, path, cb, idCol, vecCol,
      metaExtra = Map("pqSeed" -> seed.toString))
    cb
  }

  /** Install a PQ index with CALLER-PROVIDED codebooks — the
    * offline-trained path (codebooks fitted on a reference corpus and
    * shipped to every installer), and the deterministic-quantizer path
    * a replayable gate needs (an integer-grid codebook makes every
    * code and recon_norm exactly recomputable by an external oracle,
    * the ann15 convention). Same layout and growth contract as
    * [[writePqIndex]], which is now train-then-install. */
  def installPqIndex(corpus: DataFrame, path: String, cb: PqCodebooks,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     metaExtra: Map[String, String] = Map.empty): Unit = {
    val spark = corpus.sparkSession
    // appended codes were encoded under the OLD codebooks — ADC'ing
    // them against the new tables would silently mis-rank; a reinstall
    // over a grown index starts clean
    graft.operators.StoreMaintenance.requireInputNotFromStore(
      corpus, path, "installPqIndex")
    graft.operators.StoreMaintenance.clearForReinstall(spark, path,
      Seq("codes", "tombstones"))
    pqEncode(corpus, cb, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes/batch=0")
    val rows = for { j <- 0 until cb.m; c <- 0 until cb.k }
      yield (j, c, cb.centroids(j)(c).toSeq, cb.norm2(j)(c))
    spark.createDataFrame(rows).toDF("j", "c", "centroid", "norm2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    StoreMaintenance.publishMeta(spark, path, pqIndexVersion,
      Map("m" -> cb.m.toString, "k" -> cb.k.toString,
        "subDim" -> cb.subDim.toString) ++ metaExtra)
  }

  /** Layout version of the PQ index, shared by [[installPqIndex]] and
    * [[loadPqCodebooks]]. */
  private val pqIndexVersion = "1"

  /** Codebooks of an at-rest PQ index — m·k tiny rows plus the meta
    * sidecar (parameters travel WITH the store: a reader guessing m/k
    * would silently mis-decode, the near-dup store's `_meta` lesson). */
  def loadPqCodebooks(spark: SparkSession, path: String): PqCodebooks = {
    val meta = StoreMaintenance.open(spark, path, pqIndexVersion,
      "writePqIndex or installPqIndex")
    val m = meta("m").toInt; val k = meta("k").toInt
    val subDim = meta("subDim").toInt
    val rows = spark.read.parquet(s"$path/codebooks")
      .select("j", "c", "centroid", "norm2").collect()
    val cents = Array.fill(m, k)(Array.empty[Float])
    val n2 = Array.fill(m, k)(0.0)
    rows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
      n2(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
    }
    PqCodebooks(m, k, subDim, cents, n2)
  }

  /** Grow an at-rest PQ index: encode the batch against the STORED
    * codebooks and land it under `$path/codes/batch=<id>` — idempotent
    * per batch by overwrite (the IVF/near-dup store convention; batchId
    * namespace is the caller's contract). Codes never drift — the same
    * vector always encodes the same way against a fixed codebook — but
    * codebook FIT drifts as the distribution shifts, the same monitored
    * trade as `appendToIvfIndex`'s centroids: quantization error grows
    * gradually, and a rebuild (fresh `writePqIndex` at a new path) is
    * the planned remedy. */
  def appendToPqIndex(batch: DataFrame, path: String, batchId: Long,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    require(batchId > 0, "batchId 0 is the base install (writePqIndex)")
    val cb = loadPqCodebooks(batch.sparkSession, path)
    pqEncode(batch, cb, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes/batch=$batchId")
  }

  /** Top-k against an at-rest PQ index: ADC over every landed batch's
    * codes (explicit projection — `batch` is a discovered partition
    * column and must not ride into scoring), then exact re-rank of the
    * depth-sliver against the raw `corpus` table (the vectors the index
    * deliberately does not carry). Same answers as the live
    * `pqTopKReranked` with the same seed. */
  def pqTopKFromIndex(path: String, queries: DataFrame, corpus: DataFrame,
                      k: Int, depth: Int = 0,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val cb = loadPqCodebooks(spark, path)
    // honor tombstones ([[writeTombstones]]'s batch-scoped rule): dead
    // codes must not compete in ADC — a deleted near-duplicate would
    // otherwise crowd the depth sliver even though the re-rank could
    // never return its raw vector honestly
    val encoded = liveRows(
        spark.read.parquet(s"$path/codes")
          .select("n_id", "code", "recon_norm", "batch"),
        storeTombstones(spark, path))
      .select("n_id", "code", "recon_norm")
    pqTopKReranked(encoded, cb, queries, corpus, k, depth, idCol, vecCol)
  }

  /** Incremental re-embed for the PQ store — [[incrementalReembedIvf]]'s
    * twin (same snapshotDiff drive, same strictly-greater tombstone
    * rule, same replay idempotence), encoding the moved docs against
    * the STORED codebooks ([[appendToPqIndex]]'s rule). Codebook FIT
    * drift under a shifting distribution is the monitored trade
    * documented there; the remedy is a fresh [[writePqIndex]] rebuild
    * from the corpus, which starts with no tombstone dir. */
  def incrementalReembedPq(oldSnap: DataFrame, newSnap: DataFrame,
                           embed: DataFrame => DataFrame,
                           path: String, batchId: Long,
                           idCol: String, textCol: String,
                           vecCol: String = "embedding"): Unit = {
    val diff = graft.metrics.ReleaseGate
      .snapshotDiff(oldSnap, newSnap, idCol, textCol)
      .localCheckpoint() // two consumers of one skinny (id, status) frame
    removeFromPqIndex(
      diff.filter(col("status").isin("removed", "changed"))
        .select(col("id")), path, batchId, "id")
    val moved = diff.filter(col("status").isin("added", "changed"))
      .select(col("id").as(idCol))
    appendToPqIndex(
      embed(newSnap.join(moved, Seq(idCol), "left_semi")),
      path, batchId, idCol, vecCol)
  }

  /** IVF-PQ with RESIDUAL encoding — the canonical FAISS IVFPQ
    * structure, composed from this file's own parts: a coarse k-means
    * quantizer routes every vector to a cell ([[quantize]]), PQ
    * codebooks train on the RESIDUALS vec − centroid(cell)
    * ([[trainPq]] — residuals are centered, so the same code budget
    * spends on local detail instead of re-describing cell position),
    * and search probes nProbe cells, ADC-scores only their codes, and
    * exact-re-ranks the depth sliver.
    *
    * Cosine over reconstructions decomposes per subspace:
    *   dot(q, ĉ) = Σⱼ dot(qⱼ, c_cell,ⱼ) + Σⱼ dot(qⱼ, cbⱼ[codeⱼ])
    *   |ĉ|²      = Σⱼ |c_cell,ⱼ + cbⱼ[codeⱼ]|²
    * so scoring a code is m lookups into the query's residual LUT plus
    * one per-probe dot(q, centroid), and |ĉ|² comes from a
    * cell-independent-of-query nCells×m×k literal table — per-pair
    * work O(m), no vector reads outside the probed cells, and the
    * probe-side join is bounded by cell (corpus/nCells × nProbe per
    * query), never the corpus.
    *
    * At 100 TB: the scored payload is (cell, m codes) per vector and
    * the scan prunes to probed cells (the ann4 partition layout
    * applies unchanged); the exact re-rank touches q × depth raw
    * vectors by id. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 8, nProbe: Int = 4, m: Int = 8,
                kCodes: Int = 16, depth: Int = 50, seed: Long = 42L,
                sampleCap: Int = 20000,
                idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val (cells, centroids) =
      quantize(corpus, nCells, seed, idCol, vecCol, fitCap = sampleCap)
    val centLit = typedLit(centroids.sortBy(_._1).map(_._2.toSeq))
    val resid = cells.select(col("n_id"), col("cell"),
      zip_with(col("n_vec"), element_at(centLit, col("cell") + 1),
        (x, y) => x - y).as("_resid"))
    val dim = centroids.head._2.length
    val cb = trainPq(resid, dim, m, kCodes, seed, sampleCap,
      vecCol = "_resid")
    // |c_cell,j + cb_j[code]|² as a literal: nCells × m × kCodes doubles
    val normLut = typedLit(centroids.sortBy(_._1).map { case (_, c) =>
      (0 until m).map { j =>
        (0 until kCodes).map { code =>
          var s = 0.0
          var t = 0
          while (t < cb.subDim) {
            val v = c(j * cb.subDim + t).toDouble +
              cb.centroids(j)(code)(t).toDouble
            s += v * v
            t += 1
          }
          s
        }
      }
    })
    val encoded = pqEncode(resid, cb, idCol = "n_id", vecCol = "_resid",
      carry = Seq("cell"))
      .select(col("n_id"), col("cell"), col("code"),
        aggregate(
          zip_with(element_at(normLut, col("cell") + 1), col("code"),
            (nj, c) => element_at(nj, c + 1)),
          lit(0.0), (a, v) => a + v).as("_n2"))
    // query side: probed cells, per-probe dot(q, centroid), per-query
    // residual LUT and norm — all on the tiny q × nProbe frame
    val qp = probes(queries, centroids, nProbe, idCol, vecCol)
    val qSubCols = (0 until m).map(j =>
      slice(col("q_vec"), j * cb.subDim + 1, cb.subDim).as(s"_q$j"))
    val lutCols = (0 until m).map { j =>
      val cents = typedLit(cb.centroids(j).map(_.toSeq).toSeq)
      transform(cents, c =>
        aggregate(zip_with(col(s"_q$j"), c, (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v)).as(s"_lut$j")
    }
    val qScored = qp
      .select(Seq(col("q_id"), col("cell"), col("q_vec"),
        aggregate(zip_with(col("q_vec"), element_at(centLit, col("cell") + 1),
          (x, y) => x.cast("double") * y), lit(0.0), (a, v) => a + v)
          .as("_dqc"),
        sqrt(aggregate(col("q_vec"), lit(0.0),
          (a, v) => a + v.cast("double") * v.cast("double"))).as("_qn")) ++
        qSubCols: _*)
      .select(Seq(col("q_id"), col("cell"), col("_dqc"), col("_qn")) ++
        lutCols: _*)
    val luts = array((0 until m).map(j => col(s"_lut$j")): _*)
    val dot = col("_dqc") + aggregate(
      zip_with(luts, col("code"), (l, c) => element_at(l, c + 1)),
      lit(0.0), (a, v) => a + v)
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val cands = broadcast(qScored).join(encoded, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot / greatest(col("_qn") * sqrt(col("_n2")), lit(1e-12)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= depth)
      .select("q_id", "n_id")
    // exact re-rank of the depth sliver (the pqTopKReranked tail)
    val qv = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val w2 = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    cands
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), "n_id")
      .join(qv, "q_id")
      .withColumn("cos", nativeCosine(corpus)(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** ADC retrieve + exact re-rank (the production IVF-PQ serving shape,
    * FAISS's refine step): PQ-ADC ranks a candidate pool of `depth` per
    * query over the compressed corpus, then ONLY those q×depth rows
    * fetch their raw vectors (id join against the corpus — at rest this
    * is an id-pruned point lookup, never a full-vector scan) and re-rank
    * by exact cosine. Recall is governed by depth; the expensive exact
    * math touches depth/|corpus| of the data. */
  def pqTopKReranked(encoded: DataFrame, cb: PqCodebooks, queries: DataFrame,
                     corpus: DataFrame, k: Int, depth: Int = 0,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val d = if (depth > 0) depth else 4 * k
    val qv = broadcast(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val cands = pqTopK(encoded, cb, queries, d, idCol, vecCol)
      .select("q_id", "n_id")
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), "n_id")
      .join(qv, "q_id")
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    cands.withColumn("cos", nativeCosine(corpus)(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** D21 — prototypicality scoring + per-cluster diversification: the
    * D4 recipe (Tirumala et al. 2023, arXiv:2308.12284; SSL prototypes
    * per Sorscher et al. 2022, arXiv:2206.14486). Cluster the
    * embedding space (the SemDeDup k-means this file already runs for
    * IVF), score every doc by cosine to its OWN cluster's centroid —
    * its prototypicality — and flag the most-prototypical `dropFrac`
    * of each cluster for dropping: near-centroid docs are the
    * semantically redundant template mass; the far tail carries the
    * diversity a pretraining mix wants after dedup.
    *
    * Determinism/parity: proto_sim is rounded to 6 dp BEFORE ranking
    * (the dsir rule) and ties break on id, so the drop boundary is
    * engine-stable. `nCells = 1` is the degenerate SSL-prototypes
    * case — the centroid is the corpus mean (k-means with one cluster
    * converges to the arithmetic mean on its first step), which is
    * what the d21 oracle replays in SQL; the multi-cell path is
    * spec-pinned (exact per-cell drop counts, planted near-dup
    * template mass dropped first).
    *
    * Scale shape: the k-means fit is capped-sample (`fitCap`, the
    * trainPq rule); assignment and scoring are map-side against
    * broadcast centroids; ranking rides [[graft.ops.DistributedRank]]
    * on skinny (id, cell, score) rows — vectors never cross the rank
    * exchange, and a dominant cluster (the crawl's one-big-topic
    * pathology, same shape as CCNet's dominant language) cannot
    * single-task the sort. Output: (idCol, cell, proto_sim, rank, n,
    * kept) — rank 1 = most prototypical in its cluster. */
  def prototypicality(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, seed: Long = 42L,
                      fitCap: Int = 100000, dropFrac: Double = 0.3)
      : DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0, "dropFrac in [0, 1)")
    // nCells = 1: k-means degenerates to the corpus mean (and MLlib
    // rejects k = 1 anyway) — compute the mean centroid directly, in
    // DOUBLE end-to-end: a float-cast centroid would perturb cosines
    // at ~1e-7, the same order as the 6-dp rounding boundary the
    // oracle compares at. One distributed per-dim sum, no fit.
    val scored =
      if (nCells == 1) {
        val dim = corpus.select(size(col(vecCol))).first().getInt(0)
        val sums = corpus.select(
          (0 until dim).map(i =>
            sum(element_at(col(vecCol), i + 1).cast("double")).as(s"_s$i"))
            :+ count(lit(1)).as("_n"): _*).first()
        val n = sums.getLong(dim)
        val mean = (0 until dim).map(i => sums.getDouble(i) / n).toArray
        corpus.select(col(idCol).as("n_id"), lit(0).as("cell"),
          round(cosine(col(vecCol), lit(mean)), 6).as("proto_sim"))
      } else {
        val (cells, centroids) =
          quantize(corpus, nCells, seed, idCol, vecCol, fitCap)
        val centroidDf = broadcast(corpus.sparkSession
          .createDataFrame(centroids).toDF("cell", "_cvec"))
        cells.join(centroidDf, "cell")
          .select(col("n_id"), col("cell"),
            round(cosine(col("n_vec"), col("_cvec")), 6).as("proto_sim"))
      }
    graft.ops.DistributedRank.withRankAndCumsum(scored, "cell",
        Seq(col("proto_sim").desc, col("n_id").asc))
      .select(col("n_id").as(idCol), col("cell"), col("proto_sim"),
        col("_rk").as("rank"), col("_n").as("n"))
      .withColumn("kept",
        (col("rank") > ceil(col("n") * dropFrac)).cast("int"))
  }

  /** The kept-side ids only — [[prototypicality]] applied as the D4
    * diversification filter, for chaining after SemDeDup in a curation
    * pipeline. */
  def diversify(corpus: DataFrame, idCol: String, vecCol: String,
                nCells: Int, seed: Long = 42L, fitCap: Int = 100000,
                dropFrac: Double = 0.3): DataFrame =
    prototypicality(corpus, idCol, vecCol, nCells, seed, fitCap, dropFrac)
      .filter(col("kept") === 1)
      .select(idCol)

  /** Hard-negative mining for contrastive training (the in-batch-
    * negatives upgrade every dense retriever runs — DPR, Karpukhin
    * et al. 2020 arXiv:2004.04906 §3.2; ANCE, Xiong et al. 2020
    * arXiv:2007.00808): for each anchor, the k most-similar corpus
    * vectors whose LABEL differs — near the decision boundary, so
    * the gradient signal is maximal. An optional `simCeiling`
    * excludes the pathological top slice (an almost-identical
    * cross-label pair is usually a labeling error or a near-dup
    * that slipped dedup — ANCE's "false negative" guard).
    *
    * Exact path: anchors are the TINY side (a training batch),
    * broadcast against the corpus; per-anchor window over the scored
    * corpus — the bruteForceTopK shape, the accepted exact baseline.
    * At 100 TB the generator flips: feed ANN candidates (over-fetched
    * ~4×k, since same-label rows fall out post-hoc) through
    * `hardNegativesFromCandidates` below — same contract, the
    * hybridRerank generator-agnostic convention. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label",
                    simCeiling: Option[Double] = None): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val scored = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        col(labelCol).as("n_label"))
      .join(a, col("q_label") =!= col("n_label"))
      .withColumn("cos", nativeCosine(corpus)(col("q_vec"), col("n_vec")))
    val ceiled = simCeiling.fold(scored)(c => scored.filter(col("cos") <= c))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    ceiled.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Generator-agnostic twin: mine hard negatives out of ANY
    * candidate frame (q_id, n_id, cos_sim) — bruteForceTopK, lshTopK,
    * ivfTopKFromIndex — by joining labels and keeping the top k
    * cross-label rows per anchor. The candidate frame is queries ×
    * fetch-depth rows (tiny), so the label join broadcasts it and the
    * re-rank window is bounded by fetch depth. Over-fetch upstream:
    * same-label candidates drop out here, so a depth of ~4×k keeps k
    * honest unless the corpus is single-label around the anchor. */
  def hardNegativesFromCandidates(candidates: DataFrame,
                                  labels: DataFrame,
                                  k: Int, idCol: String,
                                  labelCol: String): DataFrame = {
    val nl = labels.select(col(idCol).as("n_id"),
      col(labelCol).as("n_label"))
    val ql = labels.select(col(idCol).as("q_id"),
      col(labelCol).as("q_label"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("n_id"))
    broadcast(candidates.select("q_id", "n_id", "cos_sim"))
      .join(nl, "n_id").join(ql, "q_id")
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"),
        col("cos_sim"))
  }
}
