package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle (groupBy fingerprint);
  *  - Jaccard pair generation joins on shingles — selective word n-grams
  *    keep the inverted index sparse; the `maxDocFreq` cap bounds every
  *    join bucket (hot-key guard for boilerplate shingles), with exact
  *    coefficients over the full hashed shingle sets;
  *  - MinHash+LSH bounds candidate generation to band-bucket collisions:
  *    the self-join key is (band, bandHash) so the shuffle is uniform and
  *    the candidate set is ~linear, not quadratic; exact Jaccard is then
  *    verified only for candidates;
  *  - SimHash reduces each doc to 64 bits; banding the bits gives the same
  *    bounded-join property for Hamming-distance candidates.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-content fingerprint.
    *
    * Project-before-shuffle: only (id, fingerprint) — ~24 bytes/row — goes
    * through the exchange that ranks duplicates; the text payload never
    * shuffles. The ids to DROP (rank > 1 within a fingerprint) are the
    * duplicates themselves — a small minority of any real corpus — so they
    * broadcast, and the payload side is a map-side anti join with no
    * exchange at all. For a pathologically dup-heavy corpus where the drop
    * set outgrows the broadcast limit, shuffle the payload on the
    * fingerprint once instead (window + rn=1); that trade is the exception,
    * not the default. CONTRACT: ids must be unique and non-null — a
    * duplicated id that ranks > 1 would anti-join away ALL of its rows
    * (and a null id never matches the condition). With non-unique ids
    * use `exactDedupByShuffle`, which ranks physical rows. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("_id"),
      TextAnalysis.fingerprint(col(textCol)).as("_fp"))
    val w = Window.partitionBy("_fp").orderBy("_id")
    val drops = keyed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1).select("_id")
    df.join(broadcast(drops), col(idCol) === col("_id"), "left_anti")
  }

  /** True ⇔ the drop set is small enough to broadcast (the `exactDedup`
    * plan); false ⇔ shuffle the payload once instead
    * (`exactDedupByShuffle`). Pure, so the rule itself is spec-pinned. */
  private[operators] def dropSetBroadcastable(nDrops: Long, maxDrops: Long): Boolean =
    nDrops <= maxDrops

  /** Exact dedup with AUTOMATIC variant selection. `exactDedup`'s
    * broadcast of the drop set is unbounded — on a dup-MAJORITY corpus
    * (a crawl where most rows are copies) assembling it would OOM the
    * driver. This entry point measures instead of trusting the caller:
    * it counts the drop set first (an (id, fp)-only aggregation — the
    * same exchange `exactDedup` pays anyway, with nothing wasted: the
    * counted plan is persisted and REUSED as the broadcast side when it
    * wins) and broadcasts only when the count is under `maxBroadcastDrops`
    * ids (default 10 M ≈ 80 MB — comfortably under executor broadcast
    * budgets); otherwise it takes the one-payload-shuffle ranked plan.
    * Same answer both ways under `exactDedup`'s unique-id contract. */
  def exactDedupAuto(df: DataFrame, idCol: String, textCol: String,
                     maxBroadcastDrops: Long = 10000000L): DataFrame =
    exactDedupAutoOn(df, idCol,
      TextAnalysis.fingerprint(col(textCol)), maxBroadcastDrops)

  /** Canonical ("fuzzy-exact") dedup: `exactDedupAuto`'s measured
    * broadcast-vs-shuffle routing over `TextAnalysis.canonicalFingerprint`
    * — lowercase, punctuation stripped, whitespace collapsed — so
    * reformatting-only copies ("Hello, World!" vs "hello world") collapse
    * to one keeper (smallest id). The C4/crawl-cleaning middle ground
    * between byte-exact dedup (misses them) and MinHash (overkill for
    * them); same scale shape as the exact family: exchanges carry
    * (id, 16-byte fp) only, text never shuffles on the broadcast route. */
  def canonicalExactDedup(df: DataFrame, idCol: String, textCol: String,
                          maxBroadcastDrops: Long = 10000000L): DataFrame =
    exactDedupAutoOn(df, idCol,
      TextAnalysis.canonicalFingerprint(col(textCol)), maxBroadcastDrops)

  /** Shared routed implementation for the exact-dedup family over an
    * arbitrary fingerprint expression (byte-exact `fingerprint`,
    * `canonicalFingerprint`, …). Same contract as `exactDedup`: unique
    * non-null ids.
    *
    * Cache lifecycle: the drop set is persisted so the routing count and
    * the broadcast side share ONE computation. On the shuffle branch it
    * is unpersisted immediately (that plan never reads it again); on the
    * broadcast branch it DELIBERATELY lingers until the caller's action
    * completes — the returned plan reads it, and an eager unpersist here
    * would recompute the whole ranked window at execution, paying the
    * exchange twice to save ≤ 80 MB of plan-keyed (so non-accumulating)
    * cache. Family policy: long-lived sessions `clearCache()` between
    * one-shot scans (NOTES). */
  private def exactDedupAutoOn(df: DataFrame, idCol: String, fp: Column,
                               maxBroadcastDrops: Long): DataFrame = {
    val keyed = df.select(col(idCol).as("_id"), fp.as("_fp"))
    val w = Window.partitionBy("_fp").orderBy("_id")
    val drops = keyed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1).select("_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDrops = drops.count()
    if (dropSetBroadcastable(nDrops, maxBroadcastDrops))
      df.join(broadcast(drops), col(idCol) === col("_id"), "left_anti")
    else {
      drops.unpersist(blocking = false)
      val byShuffle = Window.partitionBy(fp).orderBy(col(idCol))
      df.withColumn("_rn", row_number().over(byShuffle))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** SoftDeDup-style commonness REWEIGHTING (He et al.,
    * arXiv:2407.06654): instead of dropping duplicates, every document
    * keeps flowing with a sampling weight inversely proportional to
    * its "commonness" — the number of corpus documents sharing its
    * canonical fingerprint (lowercase, punctuation stripped,
    * whitespace collapsed — the d17 form). Downstream token budgets
    * then see each duplicated TEXT once in expectation while retaining
    * rare-phrasing diversity a hard dedup would throw away. Output:
    * the input plus `n_copies` (commonness) and `soft_weight`
    * (round(1/n, 6) — IEEE division is deterministic, so the rounded
    * weight replays across engines).
    *
    * Scale shape: the d1 family's — one map-side md5 over the text,
    * one map-side-combinable (fp → count) aggregate over skinny
    * 16-byte rows, one join back on the fingerprint. No window, so a
    * million-copy boilerplate page is one combiner cell; the payload
    * rides the fp-keyed exchange once (same as exactDedupByShuffle's
    * rank — weights must attach to EVERY row, so a drop-set broadcast
    * cannot apply). */
  def softDedupWeights(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val fp = TextAnalysis.canonicalFingerprint(col(textCol))
    val keyed = df.withColumn("_fp", fp)
    val counts = keyed.groupBy("_fp")
      .agg(count(lit(1)).as("n_copies"))
    keyed.join(counts, Seq("_fp"))
      .withColumn("soft_weight",
        round(lit(1.0) / col("n_copies").cast("double"), 6))
      .drop("_fp")
  }

  /** The dup-MAJORITY fallback: one payload shuffle on the fingerprint,
    * rank, keep rn = 1. Same answer as `exactDedup` under that method's
    * unique-id contract; unlike it, this variant ranks PHYSICAL rows, so
    * it also behaves (keeps exactly one row per fingerprint) when ids
    * collide. Use it when the drop set (the duplicates) would outgrow
    * the broadcast limit — e.g. a crawl where most rows are copies.
    * `exactDedup` is otherwise strictly better (its exchanges carry only
    * ids + fingerprints). */
  def exactDedupByShuffle(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Incremental exact dedup — the production mode at corpus scale:
    * dedup an incoming BATCH against an already-ingested corpus without
    * ever re-clustering the corpus itself. Returns (id, fp) of batch
    * rows that survive both (a) within-batch dedup (smallest id per
    * fingerprint) and (b) the corpus check (fingerprint unseen).
    *
    * `corpus` only needs the text column — in production it is the
    * persisted fingerprint STORE (a parquet of 16-byte fps, bucketed by
    * fp), not the corpus payload; pass `corpusFpCol` naming its
    * fingerprint column to skip re-hashing. Scale shape: the batch
    * reduces to (fp → min id) with map-side combine, then one anti join
    * on the fingerprint — both exchanges carry id+fp only, never text.
    * Appending the survivors' fps to the store closes the loop for the
    * next batch. */
  def incrementalExactDedup(batch: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            corpusFpCol: Option[String] = None): DataFrame = {
    val batchFp = batch.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val corpusFp = corpusFpCol match {
      case Some(c) => corpus.select(col(c).as("fp"))
      case None => corpus.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
    }
    batchFp.groupBy("fp").agg(min("id").as("id"))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select("id", "fp")
  }

  /** At-rest exact-dedup fingerprint store: distinct md5 fps as parquet
    * plus Bloom filter sidecar(s) over their xxhash64 keys. The filter
    * is sized ONCE for the store's target capacity (`expectedTotalFps`
    * — corpus plus all future batches) so per-batch filters built with
    * the same parameters stay bit-compatible for merging; capacity,
    * fpp, and shard count travel in `_meta.json`, and everything lives
    * on the store dir's own filesystem. The filter is the store's hot
    * half: ~1.8 bytes/fp at fpp 1e-3 where the parquet side is 16
    * bytes.
    *
    * SHARDING: one filter serializes through a JVM byte array, so a
    * single sidecar tops out around 1e9 fps (~1.8 GB) at fpp 1e-3.
    * `shards = k` splits the store by fp hash range — fps land under
    * `fps/shard=<i>` (i = xxhash64(fp) mod k) with one
    * `_bloom.s<i>.bin` sidecar each, sized for 1/k of the capacity, so
    * k shards carry k× the single-sidecar ceiling and the probe/append
    * paths compose per shard ([[incrementalExactDedupFromFpStore]] /
    * [[appendToFpStore]] read the shard count from the meta — callers
    * never pass it again). `shards = 1` (default) keeps the flat
    * single-sidecar layout; the capacity ceiling is checked PER SHARD,
    * loudly, either way. */
  def writeFpStore(corpus: DataFrame, idCol: String, textCol: String,
                   dir: String, expectedTotalFps: Long,
                   fpp: Double = 0.001, shards: Int = 1): Unit = {
    require(shards >= 1, s"shards must be >= 1: $shards")
    val perShard = fpShardCapacity(expectedTotalFps, shards)
    require(bloomFits(perShard, fpp),
      s"writeFpStore: $perShard fps/shard at fpp=$fpp needs " +
        f"${bloomBits(perShard, fpp) / 8 / 1e9}%.1f GB of filter — past " +
        s"the single-sidecar ceiling (~1e9 fps at 1e-3); raise `shards` " +
        s"(currently $shards)")
    val spark = corpus.sparkSession
    // the version guard prescribes "reinstall with writeFpStore": over
    // an older flat layout, fps/batch=0 landing next to flat files would
    // brick every later read; over a store with appends, stale
    // generations and their blooms would survive a full rebuild — clear
    // both shapes
    StoreMaintenance.requireInputNotFromStore(corpus, dir, "writeFpStore")
    StoreMaintenance.clearForReinstall(spark, dir,
      Seq("fps"), Seq("_bloom*.bin"))
    val fps = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // formatVersion 2: fps land under per-batch generation dirs
    // (batch=0 is the base install) and every APPEND owns its own
    // bloom sidecar (see appendToFpStore) — no sidecar is ever
    // read-modify-written, so replays converge by overwrite and two
    // ingest lines with distinct batch ids never lose an update
    if (shards == 1) {
      fps.write.mode("overwrite").parquet(s"$dir/fps/batch=0")
      val filter = fps.select(xxhash64(col("fp")).as("k"))
        .stat.bloomFilter("k", expectedTotalFps, fpp)
      graft.sources.Sources.writeBinarySidecarFs(spark, s"$dir/_bloom.bin",
        graft.functions.BloomMightContain.toBytes(filter))
    } else {
      fps.withColumn("shard", fpShardId(col("fp"), shards))
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$dir/fps/batch=0")
      (0 until shards).foreach { i =>
        val keys = fps.filter(fpShardId(col("fp"), shards) === i)
          .select(xxhash64(col("fp")).as("k"))
        writeShardBloom(spark, dir, i, keys, perShard, fpp)
      }
    }
    fps.unpersist(blocking = false)
    StoreMaintenance.publishMeta(spark, dir, fpStoreVersion,
      Map("expectedTotalFps" -> expectedTotalFps.toString,
        "fpp" -> fpp.toString,
        "shards" -> shards.toString))
  }

  /** The fp store's layout version (per-batch `fps/batch=<id>`
    * generations, one bloom sidecar per append), shared by
    * [[writeFpStore]] and every reader through [[openFpStore]]. */
  private val fpStoreVersion = "2"

  private def openFpStore(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, fpStoreVersion, "writeFpStore")

  /** Shard routing for the fp store: xxhash64(fp) mod k, non-negative.
    * The SAME xxhash64 key feeds the Bloom probes — harmless, because a
    * shard's filter only ever answers for keys in its own residue
    * class, and within it the full 64-bit key still spreads. */
  private def fpShardId(fp: Column, shards: Int): Column =
    pmod(xxhash64(fp), lit(shards.toLong)).cast("int")

  private def fpShardCapacity(expectedTotalFps: Long, shards: Int): Long =
    math.max(1L, (expectedTotalFps + shards - 1) / shards)

  /** One shard lineage's Bloom filter, merged at probe time: the base
    * install's filter OR'd with every per-batch append filter
    * (`_bloom[.s<i>].b<batchId>.bin`). All filters in a lineage are
    * built with the store's recorded capacity/fpp, so the layouts are
    * bit-compatible and the merge is a byte-array OR. The driver-side
    * read is |appends| sidecar files — a long ingest line folds them
    * down with [[compactFpStoreSidecars]] from its single-writer
    * maintenance slot. */
  private[graft] def mergedBloomBytes(spark: org.apache.spark.sql.SparkSession,
                                      dir: String, shard: Option[Int]): Array[Byte] = {
    val prefix = shard.map(i => s"_bloom.s$i").getOrElse("_bloom")
    val batchPat =
      (java.util.regex.Pattern.quote(prefix) + "\\.b(\\d+)\\.bin").r
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchFiles = fs.listStatus(d).map(_.getPath.getName)
      .filter(n => batchPat.matches(n)).sorted
    val base = org.apache.spark.util.sketch.BloomFilter.readFrom(
      graft.sources.Sources.readBinarySidecarFs(spark, s"$dir/$prefix.bin"))
    batchFiles.foreach { n =>
      base.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
        graft.sources.Sources.readBinarySidecarFs(spark, s"$dir/$n")))
    }
    graft.functions.BloomMightContain.toBytes(base)
  }

  /** Single-writer maintenance: fold every per-batch append filter into
    * the base sidecar and delete the batch files, so probe-time merge
    * cost resets to one file per shard. Safe ONLY from the store's one
    * writer lineage (a streaming loop's maintenance slot, or an offline
    * job while ingest is paused) — it re-introduces exactly the
    * read-modify-write the per-batch layout exists to avoid, which is
    * fine when nobody else is writing. */
  def compactFpStoreSidecars(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit =
    foldBloomSidecars(spark, dir, openFpStore(spark, dir)("shards").toInt)

  /** [[compactFpStoreSidecars]] over `shards` bloom lanes — shared with
    * the eval-gram store, whose one lane has the fp store's unsharded
    * sidecar layout. */
  private def foldBloomSidecars(spark: org.apache.spark.sql.SparkSession,
                                dir: String, shards: Int): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lineages: Seq[Option[Int]] =
      if (shards == 1) Seq(None) else (0 until shards).map(Some(_))
    lineages.foreach { shard =>
      val prefix = shard.map(i => s"_bloom.s$i").getOrElse("_bloom")
      val batchPat =
        (java.util.regex.Pattern.quote(prefix) + "\\.b(\\d+)\\.bin").r
      val batchFiles = fs.listStatus(d).map(_.getPath.getName)
        .filter(n => batchPat.matches(n)).sorted
      if (batchFiles.nonEmpty) {
        // merged bytes FIRST (bloom ⊇ fps must hold at every instant),
        // batch-file deletes after — a crash between leaves harmless
        // already-merged extras
        graft.sources.Sources.writeBinarySidecarFs(spark,
          s"$dir/$prefix.bin", mergedBloomBytes(spark, dir, shard))
        batchFiles.foreach(n =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), false))
      }
    }
  }

  /** Fold the fp store's committed generations into one `batch=0` and
    * fold OR RE-SIZE its bloom sidecars ([[resizeFpSidecarsAfterFold]]):
    * when the table fold left unfolded generations behind (a bounded
    * `maxBatchId`), per-batch filters are unioned into the base
    * ([[compactFpStoreSidecars]] — replay-proof, set union); when EVERY
    * generation folded into `batch=0`, the base filter is REBUILT from
    * the folded keys with capacity = max(installed, 2×folded), because
    * the install-sized union quietly saturates once appends outgrow the
    * original sizing — the effective fpp degrades and every probe leaks
    * more false-positive candidates into the exact-verify join, eroding
    * the O(batch) guarantee the sidecar exists to provide. The fold is
    * exactly the moment a right-sized rebuild is nearly free: batch 0's
    * folded parquet is already in hand, one `stat.bloomFilter` pass
    * restores the designed fpp, and `_meta.json` records the new
    * capacity so later appends build bit-compatible per-batch filters.
    * The fps TABLE fold takes `maxBatchId` like every row-table fold
    * (duplicate fp rows from a replayed folded generation would be
    * anti-join-invisible, but the store should not grow on replay). */
  def compactFpStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                     maxBatchId: Long = Long.MaxValue): Unit = {
    StoreMaintenance.compactStore(spark, dir, fpStoreVersion,
        "writeFpStore", maxBatchId) { meta =>
      if (meta("shards") == "1")
        Seq(StoreMaintenance.TableSpec("fps", _.select("fp")))
      else Seq(StoreMaintenance.TableSpec("fps",
        _.select(col("fp"), col("shard")).repartition(col("shard")),
        partitionCols = Seq("shard")))
    }
    resizeFpSidecarsAfterFold(spark, dir)
  }

  /** Capacity growth factor a post-fold sidecar rebuild applies when the
    * folded key count outgrew the installed sizing: room for one more
    * store doubling before the next fold needs to re-size again, at
    * ~1.8 bytes/key of filter — cheap insurance against re-sizing every
    * fold on a steadily growing ingest line. */
  private val bloomFoldHeadroom = 2L

  /** Batch-id set of a store table's live `batch=<id>` generation dirs. */
  private def liveGenIds(spark: org.apache.spark.sql.SparkSession,
                         tableDir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).toSet
  }

  /** Names of a dir's per-batch bloom sidecar files (`_bloom.b<id>.bin`
    * and `_bloom.s<i>.b<id>.bin`). */
  private def batchBloomFiles(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = "_bloom(\\.s\\d+)?\\.b\\d+\\.bin".r
    fs.listStatus(d).toSeq.map(_.getPath.getName).filter(pat.matches)
  }

  /** Optimal Bloom bit count ≈ -n·ln(p)/ln²2; 8·Int.MaxValue is the
    * serializable ceiling (byte-array length), reached near 1.19e9
    * keys at fpp 1e-3. Shared by `writeFpStore`'s install require and
    * the fold-time re-size guards. */
  private def bloomBits(capacity: Long, fpp: Double): Double =
    math.ceil(-capacity * math.log(fpp) / (math.log(2) * math.log(2)))

  private def bloomFits(capacity: Long, fpp: Double): Boolean =
    bloomBits(capacity, fpp) <= 8.0 * Int.MaxValue

  /** Delete every per-batch bloom sidecar file of a store dir. */
  private def dropBatchBloomFiles(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchBloomFiles(spark, dir).foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), false))
  }

  /** One LANE's fold-time re-sized rebuild (a lane = the base filter of
    * an unsharded store, or one shard's): `keys` is the folded
    * generation's DISTINCT key frame as one `k` column; capacity grows
    * to folded×headroom only when the lane outgrew `installed`.
    *
    * WRITE ORDER is meta FIRST, filter second, batch-file deletes last
    * — the ordering that keeps every crash window self-healing: once
    * `_meta.json` records the new capacity, the per-batch sidecar
    * files are still on disk, so the idempotent fast path
    * (batch-files-empty ⇒ return) cannot trap an inconsistent store —
    * any later maintenance call sees the files and re-runs this
    * rebuild. The reverse order (meta last) had a real hole: a crash
    * after the deletes but before the meta write left a new-capacity
    * base with an old-capacity meta, the fast path returned forever,
    * and the next append's old-capacity filter made every probe's
    * `mergeInPlace` throw until some unrelated fold happened by. A
    * crash BETWEEN meta and filter (or filter and deletes) leaves
    * mixed-capacity sidecars whose merge fails LOUDLY on probe; the
    * next compact call heals it (bloom ⊇ keys holds throughout — the
    * base filter always covers batch=0, and unfolded keys only ever
    * live in their own still-present batch files).
    *
    * Returns (resized?, folded key count); resized = false means the
    * lane would not fit the serializable ceiling — the caller falls
    * back to the saturated union (never false-negative) and warns
    * with the count. */
  private def resizeLane(spark: org.apache.spark.sql.SparkSession,
                         dir: String, keys: DataFrame, installed: Long,
                         fpp: Double, writeMeta: Long => Unit)
      : (Boolean, Long) = {
    val cached = keys.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n0 = cached.count()
      val newCap = if (n0 > installed) n0 * bloomFoldHeadroom else installed
      if (!bloomFits(newCap, fpp)) return (false, n0)
      if (newCap != installed) writeMeta(newCap)
      val filter =
        if (n0 == 0L)
          org.apache.spark.util.sketch.BloomFilter.create(newCap, fpp)
        else cached.stat.bloomFilter("k", newCap, fpp)
      graft.sources.Sources.writeBinarySidecarFs(spark, s"$dir/_bloom.bin",
        graft.functions.BloomMightContain.toBytes(filter))
      dropBatchBloomFiles(spark, dir)
      (true, n0)
    } finally cached.unpersist(blocking = false)
  }

  /** Post-fold sidecar policy for the fp store (see [[compactFpStore]]):
    * union when unfolded generations remain (their keys live only in
    * their own per-batch filters — rebuilding from `batch=0` alone
    * would DROP them and admit silent false negatives), rebuild
    * re-sized from the folded DISTINCT fps when `batch=0` is the only
    * generation (folds concatenate generations without dedup, so the
    * raw row count would over-size the lane). No-op when no per-batch
    * sidecar files exist — the idempotent-maintenance-visit fast path,
    * safe under [[resizeLane]]'s meta-first crash discipline. */
  private[graft] def resizeFpSidecarsAfterFold(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    if (batchBloomFiles(spark, dir).isEmpty) return
    // re-opened, never carried over from the fold: this rewrites
    // expectedTotalFps, and every later reader must see the new value
    val meta = openFpStore(spark, dir)
    val shards = meta("shards").toInt
    if ((liveGenIds(spark, s"$dir/fps") - 0L).nonEmpty) {
      foldBloomSidecars(spark, dir, shards)
      return
    }
    val fpp = meta("fpp").toDouble
    val installed = meta("expectedTotalFps").toLong
    val perShard = fpShardCapacity(installed, shards)
    // ceiling fallback in every branch: the union keeps every key
    // (saturated but never false-negative); the warn carries the count
    // the operator needs to size the honest fix — a (more-)sharded
    // writeFpStore reinstall
    def unionWithWarn(msg: String): Unit = {
      System.err.println(msg)
      foldBloomSidecars(spark, dir, shards)
    }
    if (shards == 1) {
      val (ok, n0) = resizeLane(spark, dir,
        spark.read.parquet(s"$dir/fps/batch=0")
          .select("fp").distinct()
          .select(xxhash64(col("fp")).as("k")),
        installed, fpp,
        newCap => StoreMaintenance.publishMeta(spark, dir, fpStoreVersion,
          meta + ("expectedTotalFps" -> newCap.toString)))
      if (!ok) unionWithWarn(s"[graft] fp store $dir: $n0 folded fps " +
        "need a filter past the single-sidecar ceiling — keeping the " +
        "saturated union; reinstall with writeFpStore(shards=k)")
    } else {
      val cached = spark.read.parquet(s"$dir/fps/batch=0")
        .select("fp", "shard").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val counts = cached.groupBy("shard").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val maxN = if (counts.isEmpty) 0L else counts.values.max
        val newPerShard =
          if (maxN > perShard) maxN * bloomFoldHeadroom else perShard
        if (!bloomFits(newPerShard, fpp))
          unionWithWarn(s"[graft] fp store $dir: hottest shard holds " +
            s"$maxN folded fps — past the per-shard ceiling; keeping " +
            "the saturated union; reinstall with more shards")
        else {
          // meta FIRST (the resizeLane crash discipline), then every
          // shard's filter, batch-file deletes last
          if (newPerShard != perShard)
            StoreMaintenance.publishMeta(spark, dir, fpStoreVersion,
              meta + ("expectedTotalFps" ->
                (newPerShard * shards).toString))
          (0 until shards).foreach { i =>
            val keys = cached.filter(col("shard") === i)
              .select(xxhash64(col("fp")).as("k"))
            writeShardBloom(spark, dir, i, keys, newPerShard, fpp)
          }
          dropBatchBloomFiles(spark, dir)
        }
      } finally cached.unpersist(blocking = false)
    }
  }

  /** One shard's Bloom sidecar from its key frame; an EMPTY shard gets
    * an explicit empty filter (stat.bloomFilter over zero rows yields a
    * null sketch buffer). */
  private def writeShardBloom(spark: org.apache.spark.sql.SparkSession,
                              dir: String, shard: Int, keys: DataFrame,
                              capacity: Long, fpp: Double): Unit = {
    val filter =
      if (keys.isEmpty)
        org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)
      else keys.stat.bloomFilter("k", capacity, fpp)
    graft.sources.Sources.writeBinarySidecarFs(spark,
      s"$dir/_bloom.s$shard.bin",
      graft.functions.BloomMightContain.toBytes(filter))
  }

  /** `incrementalExactDedup` against the at-rest store, Bloom-routed:
    * batch fps that probe NEGATIVE are definitely new (a Bloom filter
    * has no false negatives) and skip the store entirely — for a
    * mostly-novel batch that is almost every row — while the
    * might-contain sliver (true dups + the fpp dribble) pays the one
    * anti join against the parquet fps. Same (id, fp) contract and
    * results as `incrementalExactDedup`; the store table is only ever
    * probed with the suspect sliver, so per-batch cost is O(batch) map
    * work + an anti join whose left side is ~|dups|, not |batch|. */
  def incrementalExactDedupFromFpStore(batch: DataFrame,
                                       dir: String, idCol: String,
                                       textCol: String): DataFrame = {
    val spark = batch.sparkSession
    val shards = openFpStore(spark, dir)("shards").toInt
    // sharded probe: route each fp to its shard's filter with a
    // when-chain keyed on the shard id. NOTE the plan carries ALL shard
    // filters (they are expression literals) — sharding raises the
    // 2 GB-per-JVM-byte-array SERIALIZATION ceiling, not the executor
    // memory bill, which is the total filter size either way.
    val maybe: Column =
      if (shards == 1)
        graft.plans.GraftFunctions.bloomMightContain(spark,
          xxhash64(col("fp")), mergedBloomBytes(spark, dir, None))
      else {
        val sid = fpShardId(col("fp"), shards)
        (0 until shards).map { i =>
          (i, graft.plans.GraftFunctions.bloomMightContain(spark,
            xxhash64(col("fp")), mergedBloomBytes(spark, dir, Some(i))))
        }.foldRight(lit(false): Column) { case ((i, probe), acc) =>
          when(sid === i, probe).otherwise(acc)
        }
      }
    // one row per distinct batch fp, smallest id wins (within-batch
    // dedup) — tiny, and consumed by BOTH probe branches. Eager
    // localCheckpoint (not persist): the frame is materialized once
    // HERE and its lineage truncated, so neither branch re-runs the
    // batch aggregation whenever the caller finally acts, and there is
    // no cache entry whose unpersist timing the caller must manage.
    val batchFp = batch
      .select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min("id").as("id"))
      .withColumn("_maybe", maybe)
      .localCheckpoint()
    val fresh = batchFp.filter(!col("_maybe")).select("id", "fp")
    val suspects = batchFp.filter(col("_maybe")).select("id", "fp")
    // the verify join keys on fp alone — the sharded layout's partition
    // column is irrelevant to it, so one scan serves both layouts
    val verified = suspects.join(
      spark.read.parquet(s"$dir/fps").select("fp"), Seq("fp"), "left_anti")
    fresh.unionByName(verified)
  }

  /** Close the exact-dedup ingest loop: land the survivors' fps under
    * the batch's own `fps/batch=<batchId>` generation dir and its keys
    * as the batch's OWN Bloom sidecar (`_bloom[.s<i>].b<batchId>.bin`)
    * — probes merge base + batch filters at read time
    * ([[mergedBloomBytes]]). Nothing on this path reads or rewrites a
    * shared mutable file, which buys two properties the old
    * merge-into-base design lacked: (1) an at-least-once REPLAY of the
    * same batchId converges by overwrite instead of re-landing
    * duplicate fp rows, and (2) two ingest lines with DISTINCT batch
    * ids never lose an update (the RMW interleave A-read/B-read/
    * A-write/B-write silently dropped A's keys — a later duplicate of
    * an A-batch doc could then probe negative and be re-admitted).
    *
    * Write ORDER is still the store invariant — the filter FIRST, the
    * parquet generation SECOND — because correctness requires
    * bloom ⊇ fps at all times: a parquet fp missing from the merged
    * filter would let a later duplicate probe negative and skip its
    * verify (silent re-admit), while a filter entry missing from
    * parquet only sends one more suspect to the verify join, which
    * finds nothing and correctly admits it. Crash between the writes →
    * the safe side, healed by the replay's overwrite. The per-batch
    * filter is built with the STORE's recorded capacity/fpp so
    * probe-time `mergeInPlace` sees bit-compatible layouts; batchId
    * namespace is the caller's contract (the near-dup store rule). */
  def appendToFpStore(newFps: DataFrame, dir: String, batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the base install (writeFpStore)")
    // zero-row append is a no-op — reached on replay paths where every
    // fp is already in the store. Guarded explicitly because
    // stat.bloomFilter over zero rows yields a null sketch buffer
    // (NPE), and a zero-row parquet generation would only add an
    // empty dir
    if (newFps.isEmpty) return
    val spark = newFps.sparkSession
    val meta = openFpStore(spark, dir)
    val expected = meta("expectedTotalFps").toLong
    val fpp = meta("fpp").toDouble
    val shards = meta("shards").toInt
    if (shards == 1) {
      val batchFilter = newFps.select(xxhash64(col("fp")).as("k"))
        .stat.bloomFilter("k", expected, fpp)
      graft.sources.Sources.writeBinarySidecarFs(spark,
        s"$dir/_bloom.b$batchId.bin",
        graft.functions.BloomMightContain.toBytes(batchFilter))
      newFps.select("fp").write.mode("overwrite")
        .parquet(s"$dir/fps/batch=$batchId")
    } else {
      // per shard: slice the batch by the routing hash, land the
      // slice's keys as that shard's per-batch sidecar (same
      // bloom-first ordering — bloom ⊇ fps must hold per shard). The
      // batch is localCheckpoint'd by every ingest caller, so the k
      // slice passes re-read a frozen frame, not the store. Empty
      // slices skip the sidecar; the fps generation lands once,
      // shard-partitioned.
      val perShard = fpShardCapacity(expected, shards)
      (0 until shards).foreach { i =>
        val slice = newFps.filter(fpShardId(col("fp"), shards) === i)
          .select("fp")
        if (!slice.isEmpty) {
          val batchFilter = slice.select(xxhash64(col("fp")).as("k"))
            .stat.bloomFilter("k", perShard, fpp)
          graft.sources.Sources.writeBinarySidecarFs(spark,
            s"$dir/_bloom.s$i.b$batchId.bin",
            graft.functions.BloomMightContain.toBytes(batchFilter))
        }
      }
      newFps.withColumn("shard", fpShardId(col("fp"), shards))
        .select(col("fp"), col("shard"))
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$dir/fps/batch=$batchId")
    }
    // same-session cached plans over the store keep serving the
    // pre-append file list otherwise (CacheManager keys on root path) —
    // the writer invalidates so readers stay oblivious
    spark.catalog.refreshByPath(dir)
  }

  /** Benchmark decontamination: word-n-gram overlap between a training
    * corpus and an evaluation set. Returns one row per
    * (corpus doc, eval doc) pair sharing ≥ 1 n-gram, with the shared
    * count — callers aggregate to flag/drop contaminated documents.
    *
    * Scale shape: both sides reduce to distinct (id, shingle) and meet
    * in ONE equi-join on the shingle string; the eval side (benchmarks —
    * thousands of docs, not billions) is tiny relative to the corpus, so
    * its shingle table is broadcast and the corpus side never shuffles.
    * For boilerplate-heavy corpora pass `maxDocFreq` to drop shingles
    * whose CORPUS document frequency exceeds the cap (an ubiquitous
    * n-gram matches everything and signals nothing). */
  def contaminationPairs(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         maxDocFreq: Option[Int] = None): DataFrame = {
    val corpusSh = {
      val sh = shingles(corpus, idCol, textCol, n)
      maxDocFreq match {
        case None => sh
        case Some(cap) =>
          // hot shingles are few at any sane cap — broadcast the block-list
          val hot = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
            .filter(col("_df") > cap).select("shingle")
          sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    }
    val evalSh = shingles(evalSet, idCol, textCol, n)
      .withColumnRenamed("id", "eval_id")
    corpusSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy("id", "eval_id")
      .agg(count(lit(1)).as("shared"))
  }

  /** Decontamination for eval sets too large to broadcast. Same result
    * as `contaminationPairs` — bit for bit — with a different scale
    * shape: the eval side is compressed to a Bloom filter over xxhash64
    * gram hashes (~1.8 bytes/gram at fpp 1e-3, vs 8-byte hashes or full
    * strings — a 100 M-gram eval suite is ~170 MiB of filter where the
    * exact hash set would be 800 MiB and the string set GiBs), the
    * corpus grams are prefiltered MAP-SIDE by a codegen'd probe
    * ([[graft.functions.BloomMightContain]]), and only the surviving
    * sliver — true overlaps plus the fpp·|corpus grams| false-positive
    * dribble — pays a shuffle join against the eval grams for exact
    * verification. Bloom filters have no false negatives, so the verify
    * join restores exactness; false positives cost shuffle bytes, never
    * wrong rows. The corpus side never shuffles in full and the eval
    * side is never broadcast row-wise.
    *
    * `expectedEvalGrams` sizes the filter; when absent the eval gram
    * projection is counted first (one cheap extra pass over the SMALL
    * side — at production scale pass the known suite size instead). */
  def bloomContaminationPairs(corpus: DataFrame, evalSet: DataFrame,
                              idCol: String, textCol: String, n: Int = 3,
                              fpp: Double = 0.001,
                              expectedEvalGrams: Option[Long] = None,
                              maxDocFreq: Option[Int] = None): DataFrame = {
    val corpusSh = {
      val sh = shingles(corpus, idCol, textCol, n)
      maxDocFreq match {
        case None => sh
        case Some(cap) =>
          val hot = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
            .filter(col("_df") > cap).select("shingle")
          sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    }
    // eager localCheckpoint: the eval shingle projection feeds THREE
    // consumers (the capacity count, the filter build, the verify join)
    // — materialized once here, with no cache entry whose unpersist
    // timing the caller would have to manage. Bounded by the eval side,
    // which is the small side by definition.
    val evalSh = shingles(evalSet, idCol, textCol, n)
      .withColumnRenamed("id", "eval_id")
      .localCheckpoint()
    val evalHashes = evalSh.select(xxhash64(col("shingle")).as("hs")).distinct()
    val expected = expectedEvalGrams.getOrElse(math.max(evalHashes.count(), 1L))
    // one distributed pass; the driver holds only the merged bit array
    val filter = evalHashes.stat.bloomFilter("hs", expected, fpp)
    val probe = graft.plans.GraftFunctions.bloomMightContain(
      corpus.sparkSession, xxhash64(col("shingle")),
      graft.functions.BloomMightContain.toBytes(filter))
    val survivors = corpusSh.filter(probe)
    // exact verify on the raw gram STRING (not the hash): kills both the
    // Bloom false positives and any xxhash64 collision, so the output
    // contract is exactly contaminationPairs'. Survivors are tiny, so
    // this join shuffles a sliver of the corpus — never the corpus.
    survivors.join(evalSh, Seq("shingle"))
      .groupBy("id", "eval_id")
      .agg(count(lit(1)).as("shared"))
  }

  /** Size-routed decontamination — the entry point that encodes when
    * each twin wins. MEASURED (round-8 ScaleProbe, local[32], identical
    * outputs on every fixture): the broadcast-exact path beats the
    * Bloom path ~2× at every locally testable eval size (up to ~2 M
    * eval grams — a few-MB broadcast is free inside one JVM, while the
    * Bloom path pays an eager eval materialization, a filter build and
    * a shuffled verify join); on an overlap-DENSE fixture the Bloom
    * prefilter prunes nothing and loses 4.6×. So exact is the DEFAULT,
    * and the Bloom route exists for the regime the probe cannot reach:
    * an eval gram table too large to broadcast at all. The default
    * threshold is a memory bound, not a latency crossover — 50 M grams
    * ≈ 2.5 GB as a row-wise broadcast hash relation (×1000 executors on
    * a real cluster) vs ~90 MB of Bloom bits; past it the exact plan
    * stops being runnable long before it stops being fast. The one
    * routing pass over the eval side doubles as the filter's capacity
    * count when the Bloom route is taken. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String, n: Int = 3,
                    maxBroadcastGrams: Long = 50000000L,
                    fpp: Double = 0.001,
                    maxDocFreq: Option[Int] = None): DataFrame = {
    val evalGrams = shingles(evalSet, idCol, textCol, n).count()
    if (evalGrams <= maxBroadcastGrams)
      contaminationPairs(corpus, evalSet, idCol, textCol, n, maxDocFreq)
    else
      bloomContaminationPairs(corpus, evalSet, idCol, textCol, n, fpp,
        expectedEvalGrams = Some(evalGrams), maxDocFreq = maxDocFreq)
  }

  /** FUZZY decontamination — the near-dup complement of the exact
    * n-gram family above: a corpus doc whose word-shingle Jaccard
    * against ANY eval doc reaches `threshold` is flagged WHOLE. Exact
    * gram matching misses paraphrased or reformatted eval material
    * (word swaps, punctuation drift) whose individual n-grams all
    * moved — the residual channel fuzzy eval-matching closes (the
    * Lee et al. 2021 near-dup contamination finding, applied at the
    * corpus↔eval boundary instead of train↔test).
    *
    * Pairing rides the d10 cross-set machinery with the eval suite as
    * the TINY side: banded LSH candidates, exact-jaccard verify —
    * cost is one map pass over the corpus plus candidate-bounded
    * joins, never corpus × eval. CONTRACT (the d10 rule): corpus and
    * eval ids must be disjoint. Output: every corpus row plus
    * `eval_jaccard` (max verified jaccard vs the suite, NULL if
    * clean) and `contaminated` (0/1) — callers drop, quarantine, or
    * census as policy dictates. */
  def fuzzyDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.8,
                         shingleSize: Int = 3): DataFrame = {
    val pairs = incrementalNearDup(evalSet, corpus, idCol, textCol,
      shingleSize = shingleSize, threshold = threshold)
    val hits = pairs.groupBy(col("id_b").as(idCol))
      .agg(round(max("jaccard"), 6).as("eval_jaccard"))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", col("eval_jaccard").isNotNull.cast("int"))
  }

  /** [[fuzzyDecontaminate]] against the eval suite AT REST — the
    * frozen benchmarks published once as a near-dup store
    * ([[writeNearDupStore]] over the eval docs), every weekly crawl
    * flagged against it without re-shingling the suite. Store ≡ live
    * is the contract (the t23 convention): same output, same oracle.
    * The pair direction flips (the corpus is the probing batch here),
    * flags land identically. */
  def fuzzyDecontaminateFromStore(corpus: DataFrame, dir: String,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.8): DataFrame = {
    val pairs = incrementalNearDupFromStore(corpus, dir, idCol, textCol,
      threshold = threshold)
    val hits = pairs.groupBy(col("id_a").as(idCol))
      .agg(round(max("jaccard"), 6).as("eval_jaccard"))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", col("eval_jaccard").isNotNull.cast("int"))
  }

  /** D9 — inter-document duplicated-span coverage: for each document,
    * how many of its word-n-gram POSITIONS carry an n-gram that occurs
    * in at least `minDocs` distinct documents (itself included), plus
    * the covered fraction. This is the doc-level signal exact-substring
    * dedup pipelines threshold on (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", §4 — spans repeated
    * across documents; the reference corpus-cleaning stage has no
    * counterpart, this is a scale-pipeline addition): a doc that is 60%
    * covered by spans shared with other docs is boilerplate/template
    * material even when no single whole-doc near-dup pair exists.
    *
    * Unlike the Jaccard family this keeps POSITIONAL grams (not the
    * distinct set) — coverage is a property of positions, so a doc that
    * repeats one shared span ten times is 10/n covered, not 1/n.
    *
    * Scale shape: grams are hashed to 8 bytes map-side before any
    * exchange (the Jaccard-family trick); document frequencies are one
    * map-side-combinable aggregate over the distinct (id, gram)
    * projection; the duplicated-gram set joins back onto the positional
    * grams as a LEFT SEMI on the hash key. Every exchange carries
    * (id|hash, count) — text never shuffles. The positional-gram
    * projection is persisted (16-byte rows) because both the df
    * aggregate and the semi join consume it.
    *
    * Output: (id, n_grams, n_dup, dup_frac), one row per input doc —
    * docs shorter than n tokens report (0, 0, 0.0). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, minDocs: Int = 2): DataFrame = {
    // widen a narrow input before the tokenize→positional-gram pass
    // (guide §2.5); no-op on wide input
    val wide = graft.core.Tables.widenIfNarrow(df, idCol)
    val tokenized = wide.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val toks = col("toks")
    // hashed grams: the exploded rows are (id, int64) from the start —
    // the gram string never leaves its partition
    val pos = tokenized
      .select(col("id"),
        explode(positionalGrams(toks, n, hashed = true)).as("hg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = pos.distinct()
      .groupBy("hg").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("hg")
    val perDoc = pos.join(dup, Seq("hg"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup"))
    val totals = tokenized.select(col("id"),
      greatest(size(toks) - (n - 1), lit(0)).cast("long").as("n_grams"))
    totals.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)) /
          greatest(col("n_grams"), lit(1L)), 6).as("dup_frac"))
  }

  /** Exact-substring dedup TRANSFORM (the removal stage of Lee et al.
    * 2021 §4, word-level formulation): every token position covered by
    * a duplicated word-n-gram occurrence is dropped, where an
    * occurrence (doc, pos) of gram g is "duplicated" iff it is not g's
    * GLOBAL FIRST occurrence (min (doc, pos) lexicographic — the
    * keep-first rule). Overlapping duplicate spans union their covered
    * positions. `dupSpanCoverage` measures this signal; this operator
    * applies it — the pair is the detect/act split every corpus-
    * cleaning pipeline wants.
    *
    * Scale shape: gram occurrences are (id, pos, 8-byte hash) from the
    * start (text never shuffles); the first-occurrence rule is ONE
    * map-side-combinable min(struct(id, pos)) aggregate, pruned to
    * grams with ≥ 2 occurrences BEFORE the join back (unique grams —
    * the overwhelming majority of a real corpus — never ride the
    * second exchange); duplicated occurrences sweep into per-doc
    * MERGED drop intervals ([[mergedDropIntervals]] — one (id, int)
    * row per occurrence, buffers bounded by merged-span count) that
    * join back to the id-keyed doc table, so the rewrite itself is
    * map-side (bulk gap slices over the token array).
    * Per the family cache policy the PERSISTED block is the 24-byte
    * positional-gram projection (it feeds both the first-occurrence
    * aggregate and the covered join); the token arrays are re-derived
    * from the source scan on the rewrite side — two source passes beat
    * caching corpus-sized arrays.
    *
    * Output: (idCol, n_toks, n_kept, clean_text) — docs shorter than n
    * keep everything; a fully-covered doc comes back with n_kept = 0
    * and clean_text = "" (threshold/drop downstream as policy
    * dictates). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 5): DataFrame = {
    // widen a narrow input before the tokenize→positional-gram pass
    // (guide §2.5); no-op on wide input
    val wide = graft.core.Tables.widenIfNarrow(df, idCol)
    val tokenized = wide.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    // 128-bit gram keys (two independent xxhash64 lanes), NOT the
    // family's 64-bit keys: this operator DELETES text, and at the
    // corpus scale it exists for (~10^12 gram occurrences) 64-bit
    // birthday math expects thousands of collisions, each one silently
    // dropping an n-token span from an innocent document. At 128 bits
    // the expectation is ~1e-14 — measurement ops (dupSpanCoverage)
    // keep the cheaper 8-byte keys because a miscount is noise, not
    // damage. Exchange rows widen 24 → 32 bytes; that is the price of
    // destructive confidence.
    val pos = tokenized.select(col("id"),
        posexplode(positionalGrams128(col("toks"), n)).as(Seq("p", "hg")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firstOcc = pos.groupBy("hg")
      .agg(min(struct(col("id"), col("p"))).as("f"), count(lit(1)).as("_occ"))
      .filter(col("_occ") > 1)
      .select(col("hg"), col("f.id").as("f_id"), col("f.p").as("f_p"))
    val covered = mergedDropIntervals(
      pos.join(firstOcc, Seq("hg"))
        .filter(!(col("id") === col("f_id") && col("p") === col("f_p")))
        .select(col("id"), col("p")), n)
    rebuildDroppingIntervals(tokenized, covered, idCol)
  }

  /** Per-source BOILERPLATE removal — the crawl-cleaning stage that
    * strips what repeats across a source's pages (nav menus, footers,
    * cookie banners, license blurbs): every token position covered by
    * a word-n-gram occurring in ≥ `minDocs` DISTINCT documents of the
    * SAME source is dropped — from every document, no keep-first
    * exception. The rule difference from `removeDupSpans` is the
    * point: a duplicated SPAN deserves one surviving copy (it is
    * content), boilerplate deserves none (it is chrome) — and grouping
    * by source keeps a phrase that is boilerplate on one site from
    * burning innocent uses elsewhere. `dupSpanCoverage`/`removeDupSpans`
    * are the cross-corpus analysis/dedup pair; this is the
    * within-source cleanup a C4/CCNet-style pipeline runs first.
    *
    * Scale shape: the distinct-doc count per (source, gram) needs NO
    * per-id exchange at all — "distinct per doc" is doc-LOCAL, so
    * `array_distinct` on the gram array BEFORE the explode (the
    * `shingles` trick) makes each doc contribute each (source, gram)
    * once, and a plain map-side-combinable count IS the doc frequency.
    * (Both a raw `.distinct()` and `count_distinct` instead plan a
    * full-width exchange of the gram table keyed (g, hg, id) —
    * measured 15 s vs 3.8 s on the sf0.1 battery for the same answer.)
    * The elected boilerplate set is tiny, so the positional semi-join
    * is AQE-broadcast and the gram table never shuffles; boilerplate
    * occurrences exchange as (id, int) for affected docs only and
    * sweep into merged intervals ([[mergedDropIntervals]]); rebuild
    * joins an AQE-broadcast interval set. Text never shuffles anywhere.
    * Source-keyed grouping also bounds skew: a gram's group is one
    * source's documents, not the corpus. Three map-side gram passes
    * over the source scan (election, coverage, rebuild) — the family
    * convention: repeated cheap scans beat caching corpus-sized
    * intermediates. 128-bit keys — destructive (see the birthday note
    * below). Output: (idCol, n_toks, n_kept, clean_text), every input
    * doc. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, n: Int = 5,
                        minDocs: Int = 3): DataFrame = {
    // widen a narrow CORPUS before the two tokenize → gram explode
    // passes (guide §2.5; no-op on wide input). Batch entry points
    // only: the same widen inside the d24 ingest loop's per-micro-batch
    // passes was measured WORSE (5.8 → 6.6 — the exchange plus wider
    // task fan costs more than the small batch's serialism), so the
    // streaming path stays unwidened on purpose.
    val tokenized = tokenizedWithGroup(
      graft.core.Tables.widenIfNarrow(df, idCol), idCol, textCol, groupCol)
    val boiler = boilerplateGramCounts(tokenized, n)
      .filter(col("_df") >= minDocs)
      .select("_g", "hg")
    removeBoilerplateWith(tokenized, boiler, idCol, n)
  }

  /** (id, source, token-array) projection shared by the boilerplate
    * family. PROJECT the token array before any gram lambda touches it
    * — the shingles gotcha: a raw split(...) expression inside the
    * transform lambda re-runs the regex per gram element (measured
    * 17 s → 2 s there; reproduced at 26 s → ~3 s here before this
    * projection). */
  private def tokenizedWithGroup(df: DataFrame, idCol: String,
                                 textCol: String, groupCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(groupCol).as("_g"),
      split(trim(col(textCol)), "\\s+").as("toks"))

  /** Per-(source, gram) DOCUMENT frequencies: (_g, hg, _df), one row
    * per gram a source's docs carry, counted once per doc. array_distinct
    * on the STRING grams, hashed after: ArrayDistinct only has a
    * hash-set fast path for types with proper equals (primitives,
    * strings); over the 128-bit key STRUCTS it degrades to O(n²)
    * pairwise scans per doc. Doc-local distinct → a plain map-side-
    * combinable count IS the doc frequency (no per-id exchange). */
  private def boilerplateGramCounts(tokenized: DataFrame, n: Int): DataFrame =
    tokenized.select(col("_g"),
        explode(array_distinct(
          positionalGrams(col("toks"), n, hashed = false))).as("_s"))
      .select(col("_g"), struct(xxhash64(col("_s")).as("h1"),
        xxhash64(col("_s"), lit(1)).as("h2")).as("hg"))
      .groupBy("_g", "hg").agg(count(lit(1)).as("_df"))

  /** Shared rewrite stage of the boilerplate family: strip every
    * position covered by a gram in the elected `boiler` set
    * ((_g, hg) rows — from this corpus' own counts in
    * [[removeBoilerplate]], from accumulated store counts in
    * [[removeBoilerplateFromStore]]). */
  private def removeBoilerplateWith(tokenized: DataFrame, boiler: DataFrame,
                                    idCol: String, n: Int): DataFrame = {
    val pos = tokenized.select(col("id"), col("_g"),
      posexplode(positionalGrams128(col("toks"), n)).as(Seq("p", "hg")))
    val covered = mergedDropIntervals(
      pos.join(boiler, Seq("_g", "hg"), "left_semi")
        .select(col("id"), col("p")), n)
    rebuildDroppingIntervals(tokenized.drop("_g"), covered, idCol)
  }

  /** At-rest per-source boilerplate store — the streaming/incremental
    * twin of [[removeBoilerplate]]'s election state: per-(source, gram)
    * document frequencies as batch-keyed parquet under `dir/counts/
    * batch=<id>`, with the gram size pinned in `_meta.json` (a
    * mismatched reader would count disjoint gram spaces and elect
    * nothing). Unique doc ids across batches are the caller's contract
    * (same as every ingest lineage here), so summing per-batch
    * distinct-doc counts IS the cumulative document frequency.
    * Batch-keyed OVERWRITE appends (the near-dup store pattern):
    * replays rewrite the same subdir and converge; growth is O(batch)
    * — the store is never rewritten. */
  def writeBoilerplateStore(corpus: DataFrame, idCol: String, textCol: String,
                            groupCol: String, dir: String, n: Int = 5): Unit = {
    val counts = boilerplateGramCounts(
      tokenizedWithGroup(corpus, idCol, textCol, groupCol), n)
    counts.write.mode("overwrite").parquet(s"$dir/counts/batch=0")
    StoreMaintenance.publishMeta(corpus.sparkSession, dir,
      boilerplateStoreVersion, Map("n" -> n.toString))
  }

  /** Layout version of the boilerplate store, shared by its installer
    * and [[openBoilerplateStore]]. */
  private val boilerplateStoreVersion = "1"

  private def openBoilerplateStore(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, boilerplateStoreVersion,
      "writeBoilerplateStore")

  /** Grow the boilerplate store with one batch's counts — idempotent
    * per batch by overwrite, O(batch). */
  def appendToBoilerplateStore(batch: DataFrame, dir: String, idCol: String,
                               textCol: String, groupCol: String,
                               batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the base install (writeBoilerplateStore)")
    val spark = batch.sparkSession
    val n = openBoilerplateStore(spark, dir)("n").toInt
    boilerplateGramCounts(
        tokenizedWithGroup(batch, idCol, textCol, groupCol), n)
      .write.mode("overwrite").parquet(s"$dir/counts/batch=$batchId")
    // cached plans over the store would keep serving the pre-append
    // file list (CacheManager keys on root path)
    spark.catalog.refreshByPath(dir)
  }

  /** Boilerplate removal against the ACCUMULATED store: a gram is
    * chrome once its cumulative distinct-doc count within its source —
    * across every landed batch — reaches `minDocs`, so repeated chrome
    * is caught even when no single batch carries it `minDocs` times
    * (the thing the batch operator structurally cannot do). `minDocs`
    * stays a query-time knob like the near-dup store's threshold.
    * Election reads only (source, gram, df) rows — text never rides
    * the store. Single-pass semantics: docs published before a gram
    * crossed the threshold keep it; run the batch operator over the
    * published corpus for retroactive cleanup. */
  def removeBoilerplateFromStore(batch: DataFrame, dir: String, idCol: String,
                                 textCol: String, groupCol: String,
                                 minDocs: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    val n = openBoilerplateStore(spark, dir)("n").toInt
    val boiler = spark.read.parquet(s"$dir/counts")
      .groupBy("_g", "hg").agg(sum("_df").as("_df"))
      .filter(col("_df") >= minDocs)
      .select("_g", "hg")
    removeBoilerplateWith(
      tokenizedWithGroup(batch, idCol, textCol, groupCol), boiler, idCol, n)
  }

  /** CHARACTER-level exact-substring dedup — Lee et al. 2021 §4's
    * actual formulation: their suffix-array pass is char-granular, so
    * duplication that does not align to token boundaries (shifted
    * whitespace, mid-word truncation, markup residue) is invisible to
    * the word-level rewrite (`removeDupSpans`) but caught here. Every
    * CHARACTER position covered by a duplicated char-n-gram occurrence
    * is dropped under the same global keep-first rule (min (doc, pos)
    * survives), overlapping spans union, and the document reassembles
    * from the kept characters. `n` plays the role of Lee et al.'s
    * 50-char threshold: an n-char duplicated window marks exactly the
    * substrings of length ≥ n shared across (or within) documents.
    *
    * Scale shape = `removeDupSpans` with ~wordLen× more gram rows
    * (one per char instead of one per token — the honest cost of
    * char granularity, same exchanges otherwise): positional grams
    * hash to 128-bit keys map-side via substring windows (the text
    * never explodes into a char-array for hashing), unique grams are
    * pruned before the join back, duplicated occurrences sweep into
    * merged drop intervals ([[mergedDropIntervals]] — the interval
    * form matters most HERE, where the covered-position alternative
    * would amplify rows ×n = ×20), and the rebuild joins an
    * AQE-broadcast interval set. 128-bit keys for the same destructive-
    * confidence reason (see the birthday note above).
    *
    * Output: (idCol, n_chars, n_kept, clean_text) — docs shorter than
    * n chars pass through; the word-level twin's column contract with
    * chars as the unit. */
  def removeDupSpansChars(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 20): DataFrame = {
    val t = col(textCol)
    // null text behaves like empty (the historical contract: 0 chars,
    // clean_text "")
    // widen a narrow input before the char-gram kernel pass (guide
    // §2.5); no-op on wide input
    val wide = graft.core.Tables.widenIfNarrow(df, idCol)
    val docs = wide.select(col(idCol).as("id"), coalesce(t, lit("")).as("t"))
    // NATIVE gram kernel ([[graft.functions.CharGramHashes]]): bit-equal
    // keys to the composed positionalCharGrams128 twin (spec-pinned)
    // with no per-window string allocation — the measured hot path here
    val pos = wide.select(col(idCol).as("id"),
        posexplode(graft.plans.GraftFunctions.charGramHashes(
          wide.sparkSession, t, n)).as(Seq("p", "hg")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firstOcc = pos.groupBy("hg")
      .agg(min(struct(col("id"), col("p"))).as("f"), count(lit(1)).as("_occ"))
      .filter(col("_occ") > 1)
      .select(col("hg"), col("f.id").as("f_id"), col("f.p").as("f_p"))
    val covered = mergedDropIntervals(
      pos.join(firstOcc, Seq("hg"))
        .filter(!(col("id") === col("f_id") && col("p") === col("f_p")))
        .select(col("id"), col("p")), n)
    rebuildDroppingCharIntervals(docs, covered, idCol)
  }

  /** Char-unit rebuild DIRECTLY on the text: kept text is the
    * concatenation of the gap SUBSTRINGS between the merged drop
    * intervals — no per-character string array is ever built. (An
    * earlier version materialized each doc as an array of 1-char
    * strings and rode the token-array rebuild; that is O(doc length)
    * string objects + an element-indirected reassembly per doc, where
    * a handful of `substr` slices is O(gaps) bulk byte copies. substr
    * and length are both code-point addressed, consistent with
    * [[positionalCharGrams128]]'s windows and the DuckDB oracle.)
    * Output: (idCol, n_chars, n_kept, clean_text). */
  private def rebuildDroppingCharIntervals(docs: DataFrame,
                                           covered: DataFrame,
                                           idCol: String): DataFrame = {
    val m = col("_ivs")
    val t = col("t")
    val gaps = transform(
      sequence(lit(0), size(m)),
      i => struct(
        when(i === 0, lit(0)).otherwise(element_at(m, i)("e")).as("s"),
        when(i === size(m), length(t))
          .otherwise(element_at(m, i + 1)("s")).as("e")))
    val kept = when(m.isNull, t)
      .otherwise(concat_ws("", transform(gaps,
        g => t.substr(g("s") + 1, greatest(g("e") - g("s"), lit(0))))))
    docs.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        length(t).cast("long").as("n_chars"),
        length(kept).cast("long").as("n_kept"),
        kept.as("clean_text"))
  }

  /** COMPOSED 128-bit positional char-n-gram keys over raw text — the
    * built-ins-only twin of the native kernel
    * ([[graft.functions.CharGramHashes]], which `removeDupSpansChars`
    * runs) and the reference implementation its bit-equality spec pins
    * against: the substring window array is built once (two-step
    * transform — lambda bodies are not CSE'd, hashing inline would cut
    * every window twice), then each window hashes through the two
    * xxhash64 lanes like [[positionalGrams128]]. Docs shorter than n
    * yield an EMPTY array (the sequence guard is load-bearing:
    * sequence(0, negative) counts DOWN). Substring windows are
    * code-point-addressed on both engines (Spark UTF8String and DuckDB
    * substr), so the oracle recomputation agrees beyond ASCII. */
  private[operators] def positionalCharGrams128(t: Column, n: Int): Column = {
    val windows = transform(
      sequence(lit(0), length(t) - n),
      i => t.substr(i + lit(1), lit(n)))
    val hashed = transform(windows,
      g => struct(xxhash64(g).as("h1"), xxhash64(g, lit(1)).as("h2")))
    when(length(t) >= n, hashed)
      .otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>"))
  }

  /** Per-doc merged drop INTERVALS from duplicated-gram occurrences —
    * the shared aggregation stage of the destructive span operators.
    * Input: one row per occurrence to remove, (id, p), each covering
    * unit positions [p, p + n). Output: (id, _ivs) where _ivs is the
    * sorted, non-overlapping merge of those spans as
    * array<struct<s:int, e:int>> (half-open [s, e)).
    *
    * This replaces an earlier explode(sequence(p, p+n−1)) +
    * collect_set(position) pipeline: that shape exchanged one (id, int)
    * row per covered POSITION — an ×n row amplifier (×20 for the
    * char-level rewrite) — and its per-doc aggregation buffer held
    * O(covered positions) ints, concentrating O(doc length) of memory
    * on one hash-aggregate entry for a heavily-duplicated long doc.
    * Intervals exchange one row per OCCURRENCE and buffer one 8-byte
    * struct per MERGED interval.
    *
    * The merge is the classic SQL interval sweep, linear per doc: sort
    * occurrences by start within each doc (one window exchange of
    * (id, int) rows), mark group starts, number groups with a running
    * sum, aggregate each group to its envelope. Spans here all have
    * length n, so the running max-end of the sweep is lag(p) + n and
    * "starts a new merged group" reduces to p − lag(p) > n (adjacent
    * spans — gap zero — merge too, which is coverage-equivalent and
    * strictly fewer intervals). Both window expressions share one
    * window spec, so the plan pays a single sort. */
  private def mergedDropIntervals(occ: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("p")
    val prev = lag(col("p"), 1).over(byDoc)
    occ
      .withColumn("_new",
        when(prev.isNull || col("p") - prev > n, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "_grp")
      .agg(min("p").as("s"), (max("p") + n).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_ivs"))
  }

  /** Shared rewrite tail for the destructive span operators
    * (`removeDupSpans`, `removeBoilerplate`, `removeSelfRepetition`,
    * `decontaminateRewrite`, and — with `sep = ""` over char arrays —
    * `removeDupSpansChars`): drop every unit covered by the doc's
    * merged drop intervals, reassemble in order. `covered` is
    * [[mergedDropIntervals]]' (id, _ivs) output; docs absent from it
    * pass through untouched. The interval table is tiny relative to
    * the corpus (ids + merged spans, only affected docs), so AQE
    * broadcasts the join and the token arrays never shuffle.
    *
    * The kept units are the GAPS between the merged intervals (before
    * the first, between consecutive, after the last), each taken as
    * one bulk array slice — O(n_toks + n_intervals) per doc, no
    * per-unit membership probe, no index materialization. */
  private def rebuildDroppingIntervals(tokenized: DataFrame,
                                       covered: DataFrame,
                                       idCol: String,
                                       sep: String = " "): DataFrame = {
    val m = col("_ivs")
    val toks = col("toks")
    // gap i (0-based, size(m)+1 of them): [m(i).e | 0, m(i+1).s | end)
    val gaps = transform(
      sequence(lit(0), size(m)),
      i => struct(
        when(i === 0, lit(0)).otherwise(element_at(m, i)("e")).as("s"),
        when(i === size(m), size(toks))
          .otherwise(element_at(m, i + 1)("s")).as("e")))
    val kept = when(m.isNull, toks)
      .otherwise(flatten(transform(gaps,
        g => slice(toks, g("s") + 1, greatest(g("e") - g("s"), lit(0))))))
    tokenized.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(toks).cast("long").as("n_toks"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(sep, kept).as("clean_text"))
  }

  /** Span-level decontamination TRANSFORM — the removal counterpart of
    * `contaminationPairs` the way `removeDupSpans` is the removal
    * counterpart of `dupSpanCoverage`: every corpus token position
    * covered by a word-n-gram that ALSO occurs anywhere in the eval set
    * is dropped, and the document is reassembled without it. Doc-level
    * decontamination (t10/t14) throws away whole documents for one
    * leaked paragraph; this keeps the clean 95% — the form GPT-3's
    * appendix-C cleanup and every since-published decontamination
    * pipeline actually apply at the span level.
    *
    * Scale shape: the eval side reduces to its DISTINCT 128-bit gram
    * keys — 16 bytes/gram, no text, no positions — and is explicitly
    * broadcast: eval suites are bounded (10^6–10^8 grams ≈ 16 MB–1.6 GB;
    * beyond that, route doc-level flagging through the Bloom path
    * first and rewrite only flagged docs). The corpus side is one
    * map-side semi-join over its positional grams — the corpus never
    * shuffles text at any stage: the only exchanges carry (id, int)
    * contaminated-occurrence rows for CONTAMINATED docs only (swept
    * into merged intervals — [[mergedDropIntervals]]), and the final
    * join back is AQE-broadcast for the same reason. 128-bit keys, not 64:
    * like `removeDupSpans` this DELETES text, and a collision burns an
    * innocent span (see the birthday-math note there).
    *
    * Output: (idCol, n_toks, n_kept, clean_text) over the CORPUS rows,
    * eval rows excluded — n_kept = 0 / clean_text = "" marks a doc that
    * was wholly eval material.
    *
    * SINGLE-PASS semantics (like Lee et al.'s rewrite): removal joins
    * the surviving remnants, and the new adjacencies can in principle
    * form an eval n-gram that was not present in the original text —
    * the pass removes every ORIGINAL occurrence, not a fixpoint. If the
    * threat model requires the output to be eval-n-gram-free in the
    * juxtaposition sense too, iterate the operator until n_kept is
    * stable (each pass only shrinks, so it terminates). */
  def decontaminateRewrite(corpus: DataFrame, evalSet: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 5): DataFrame =
    decontaminateRewriteOn(corpus, evalSet, idCol, textCol, n,
      broadcastEval = true)

  private def decontaminateRewriteOn(corpus: DataFrame, evalSet: DataFrame,
                                     idCol: String, textCol: String, n: Int,
                                     broadcastEval: Boolean): DataFrame = {
    // deliberately NOT widened (round-19 measurement): the rewrite's
    // gram pass is sub-second serial on this battery and the widen's
    // exchange cost more than it saved (t19 +0.5 s, llm_decontam_report
    // +0.8 s median) — the widen pays only where the serial map pass is
    // ≳1 s (callers that KNOW their corpus is heavy widen at the seam,
    // e.g. llm_curation's source-probe widen of the dedup output)
    val tokenized = corpus.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val pos = tokenized.select(col("id"),
      posexplode(positionalGrams128(col("toks"), n)).as(Seq("p", "hg")))
    // projection before the gram lambda (the shingles gotcha — a raw
    // split expression re-runs per gram element inside transform)
    val evalGrams = evalSet
      .select(split(trim(col(textCol)), "\\s+").as("_et"))
      .select(explode(positionalGrams128(col("_et"), n)).as("hg"))
      .distinct()
    // past the broadcast bound the semi join falls back to a key
    // shuffle — both sides are 16-byte gram keys (positions ride only
    // the corpus side), so even then no text moves
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    val covered = mergedDropIntervals(
      pos.join(evalSide, Seq("hg"), "left_semi")
        .select(col("id"), col("p")), n)
    rebuildDroppingIntervals(tokenized, covered, idCol)
  }

  /** Size-routed span decontamination REWRITE — `decontaminate`'s
    * routing pattern applied to the destructive twin, closing the
    * escape hatch [[decontaminateRewrite]]'s doc promises for eval
    * suites past the broadcast bound. Output is BIT-IDENTICAL to
    * `decontaminateRewrite` on every input (t15's oracle is the shared
    * contract); only the physical shape routes:
    *
    *  - eval grams ≤ `maxBroadcastGrams` (the default matches
    *    `decontaminate`'s 50 M memory bound): the one-stage broadcast
    *    rewrite — every corpus doc pays the map-side gram probe, no
    *    prefilter could beat a broadcast hash semi-join.
    *  - above it: doc-level FLAGGING first through the Bloom path
    *    ([[bloomContaminationPairs]] — eval travels as ~1.8 bytes/gram
    *    of filter bits, corpus grams prefiltered map-side, exact
    *    verify restores exactness), then the rewrite machinery runs
    *    over the FLAGGED docs only with the eval semi-join falling
    *    back to a key shuffle (16-byte keys both sides). Contaminated
    *    docs are a sliver of a real corpus, so the expensive stage —
    *    positional-gram explosion + covered-position aggregation — is
    *    paid by that sliver, not the corpus; clean docs take one
    *    map-side whitespace retokenization (the same `clean_text`
    *    normalization the rewrite applies to untouched docs, so the
    *    two routes agree byte for byte).
    *
    * The routing count over the eval side doubles as the Bloom
    * filter's capacity, exactly like `decontaminate`.
    *
    * Eval-side schema contract matches [[decontaminateRewrite]]'s: the
    * eval frame needs only `textCol` (eval suites often have no id
    * column shared with the corpus). The routing count runs over a
    * text-only gram projection, and the Bloom flagging stage — whose
    * pair output groups by an eval id this caller immediately discards
    * — gets a synthesized one. */
  def decontaminateRewriteAuto(corpus: DataFrame, evalSet: DataFrame,
                               idCol: String, textCol: String, n: Int = 5,
                               maxBroadcastGrams: Long = 50000000L,
                               fpp: Double = 0.001): DataFrame = {
    // same per-doc-distinct gram semantics as `shingles` (array_distinct
    // before the explode), without requiring idCol on the eval side
    val evalGrams = evalSet
      .select(split(trim(col(textCol)), "\\s+").as("_et"))
      .select(explode(array_distinct(
        positionalGrams(col("_et"), n, hashed = false))).as("_g"))
      .count()
    if (evalGrams <= maxBroadcastGrams)
      decontaminateRewrite(corpus, evalSet, idCol, textCol, n)
    else {
      val evalWithId = evalSet.select(col(textCol))
        .withColumn(idCol, monotonically_increasing_id())
      val flagged = bloomContaminationPairs(corpus, evalWithId, idCol, textCol,
          n, fpp, expectedEvalGrams = Some(evalGrams))
        .select(col("id").as(idCol)).distinct()
      val hit = corpus.join(flagged, Seq(idCol), "left_semi")
      val clean = corpus.join(flagged, Seq(idCol), "left_anti")
        .select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
      val cleanOut = clean.select(col(idCol),
        size(col("toks")).cast("long").as("n_toks"),
        size(col("toks")).cast("long").as("n_kept"),
        concat_ws(" ", col("toks")).as("clean_text"))
      decontaminateRewriteOn(hit, evalSet, idCol, textCol, n,
          broadcastEval = false)
        .unionByName(cleanOut)
    }
  }

  /** At-rest EVAL-GRAM store — the published decontamination state a
    * streaming crawl ingest probes every micro-batch
    * ([[graft.streaming.EventStream.streamingDecontamIngest]]): the
    * eval suite's distinct 128-bit positional word-n-gram keys as
    * parquet plus a Bloom sidecar over the h1 lane (the d15 fp-store
    * layout applied to the decontamination family). The suite is
    * published ONCE when benchmarks are frozen; batches then pay a
    * map-side Bloom probe + an exact verify join against the parquet
    * keys — the eval texts themselves never travel again. 128-bit
    * keys because the consumer DELETES text (the removeDupSpans
    * birthday argument); the Bloom probes one 64-bit lane (capacity
    * math only needs uniformity), the verify join restores the full
    * 128-bit exactness. `_meta.json` pins n/fpp/capacity so callers
    * never re-pass geometry. */
  def writeEvalGramStore(evalSet: DataFrame, textCol: String, dir: String,
                         n: Int = 5, expectedTotalGrams: Long = 0L,
                         fpp: Double = 0.001): Unit = {
    val spark = evalSet.sparkSession
    // "rebuild over the full suite" is this store's prescribed recovery
    // (saturation warn, version guard): stale gram generations, per-batch
    // blooms, or stats entries surviving the reinstall would keep
    // redacting retired suites and double-count the accounting
    StoreMaintenance.requireInputNotFromStore(evalSet, dir,
      "writeEvalGramStore")
    StoreMaintenance.clearForReinstall(spark, dir,
      Seq("grams", "_stats"), Seq("_bloom*.bin"))
    // eager: the gram projection feeds the capacity count, the parquet
    // write, and the filter build (the bloomContaminationPairs pattern)
    val grams = evalSet
      .select(split(trim(col(textCol)), "\\s+").as("_et"))
      .select(explode(positionalGrams128(col("_et"), n)).as("hg"))
      .select(col("hg.h1").as("h1"), col("hg.h2").as("h2"))
      .distinct()
      .localCheckpoint()
    val nGrams = grams.count()
    val capacity =
      if (expectedTotalGrams > 0) expectedTotalGrams
      else math.max(nGrams, 1L)
    // batch=0 is the base suite; later suites land under their own
    // generation dirs with their own sidecars (appendToEvalGramStore)
    grams.write.mode("overwrite").parquet(s"$dir/grams/batch=0")
    // per-batch gram-count entry (the BM25 _stats convention): appends
    // derive the store's total by summing these tiny sidecars instead
    // of re-scanning every landed generation's parquet
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_stats/batch_0.json", Map("grams" -> nGrams.toString))
    val filter =
      if (grams.isEmpty)
        org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)
      else grams.select(col("h1").as("k")).stat.bloomFilter("k", capacity, fpp)
    graft.sources.Sources.writeBinarySidecarFs(spark, s"$dir/_bloom.bin",
      graft.functions.BloomMightContain.toBytes(filter))
    StoreMaintenance.publishMeta(spark, dir, evalGramStoreVersion,
      Map("n" -> n.toString, "fpp" -> fpp.toString,
        "expectedTotalGrams" -> capacity.toString))
  }

  /** The eval-gram store's layout version (per-batch `grams/batch=<id>`
    * generations, bloom sidecars and `_stats` entries), shared by
    * [[writeEvalGramStore]] and every reader through
    * [[openEvalGramStore]]. */
  private val evalGramStoreVersion = "2"

  private[graft] def openEvalGramStore(spark: org.apache.spark.sql.SparkSession,
                                       dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, evalGramStoreVersion,
      "writeEvalGramStore")

  /** Grow the eval-gram store when new benchmarks are published: fold
    * the new suite's gram keys into the sidecar and land them in the
    * parquet half. Bloom-first write ordering — bloom ⊇ grams must
    * hold at all times (a parquet gram missing from the filter would
    * let a contaminated doc probe negative and skip its verify —
    * silent contamination; the reverse only costs one extra verify
    * probe) — the appendToFpStore invariant. Duplicate gram ROWS from
    * a replay are harmless: the consumer is a left-semi join.
    *
    * The cumulative gram count is the sum of per-batch
    * `_stats/batch_<id>.json` entries (each batch writes only its
    * own): the sidecar was SIZED for `expectedTotalGrams`, and merged
    * filters share that bit array — appends growing the store past
    * its sizing capacity saturate it, raising the effective fpp
    * (never false negatives — only extra verify work).
    * Past 2× capacity this warns loudly: the operator keeps working,
    * but the owner should rebuild the store
    * ([[writeEvalGramStore]] over the full suite) with honest
    * capacity. */
  def appendToEvalGramStore(evalSet: DataFrame, textCol: String,
                            dir: String, batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the base install (writeEvalGramStore)")
    val spark = evalSet.sparkSession
    val meta = openEvalGramStore(spark, dir)
    // batch 0's entry lands with the install (before the meta) and is
    // rewritten by every fold, so an opened store always has it
    val baseEntry = graft.sources.Sources.readJsonSidecarFs(spark,
      s"$dir/_stats/batch_0.json")
    // ids folded into batch 0 by compactEvalGramStore are RETIRED: the
    // accounting would read a re-landed entry as crash residue and the
    // next fold would double the generation's rows — enforce the
    // contract loudly instead of documenting it
    val retired = baseEntry.get("folded")
      .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSet)
      .getOrElse(Set.empty[Long])
    require(!retired(batchId),
      s"batch id $batchId was folded into batch 0 by " +
        "compactEvalGramStore and is retired — append with a fresh id")
    // an APPENDED generation can be live with no `_stats` entry: a
    // crash between an append's gram write and its entry write leaves
    // exactly that, and the saturation warn would undercount it until
    // a compaction happens to run — backfill each missing entry once
    // (one parquet count, then never again; racing appenders write the
    // same value). Retired ids are skipped: a re-landed folded dir is
    // replay residue whose rows batch 0 already counts.
    locally {
      val gdir = new org.apache.hadoop.fs.Path(s"$dir/grams")
      val statFs = gdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      statFs.listStatus(gdir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .filter(id => id > 0 && !retired(id))
        .filterNot(id => statFs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/_stats/batch_$id.json")))
        .foreach { id =>
          val ni = spark.read.parquet(s"$dir/grams/batch=$id").count()
          graft.sources.Sources.writeJsonSidecarFs(spark,
            s"$dir/_stats/batch_$id.json", Map("grams" -> ni.toString))
        }
    }
    val n = meta("n").toInt
    val capacity = meta("expectedTotalGrams").toLong
    val fpp = meta("fpp").toDouble
    val grams = evalSet
      .select(split(trim(col(textCol)), "\\s+").as("_et"))
      .select(explode(positionalGrams128(col("_et"), n)).as("hg"))
      .select(col("hg.h1").as("h1"), col("hg.h2").as("h2"))
      .distinct()
      .localCheckpoint()
    if (grams.isEmpty) return
    // per-batch ownership (the fp-store design): the suite's filter
    // and gram generation land under the batch's own names — replays
    // converge by overwrite, concurrent suite publications with
    // distinct ids never lose an update, nothing shared is RMW'd
    val batchFilter = grams.select(col("h1").as("k"))
      .stat.bloomFilter("k", capacity, fpp)
    graft.sources.Sources.writeBinarySidecarFs(spark,
      s"$dir/_bloom.b$batchId.bin",
      graft.functions.BloomMightContain.toBytes(batchFilter))
    grams.write.mode("overwrite").parquet(s"$dir/grams/batch=$batchId")
    // this batch's gram count lands under its own `_stats` entry
    // (idempotent by overwrite, no shared-file RMW) and the warn total
    // is the sum of those tiny sidecars — O(batch) count + O(landed
    // generations) 60-byte JSON reads, never a re-list/re-open of every
    // generation's parquet footers (which made each append O(store))
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_stats/batch_$batchId.json",
      Map("grams" -> grams.count().toString))
    spark.catalog.refreshByPath(dir)
    val total = sumStatsEntries(spark, s"$dir/_stats", "grams")
    if (total > 2L * capacity)
      System.err.println(
        s"[graft] eval-gram store $dir holds ~$total grams against a " +
        s"sidecar sized for $capacity — effective fpp is degrading; " +
        "run compactEvalGramStore (re-sizes the sidecar at fold time) " +
        "or rebuild with writeEvalGramStore over the full suite")
  }

  /** Sum of one numeric field over a store's per-batch `_stats/
    * batch_<id>.json` entries (the no-RMW accounting convention).
    * Honors batch 0's `folded` id list ([[compactEvalGramStore]]'s
    * crash anchor): an entry whose id batch 0 records as folded is
    * already counted inside batch 0's total — its file only still
    * exists if a compaction crashed between the fold write and the
    * entry deletes, and counting it again would double its
    * contribution. */
  private def sumStatsEntries(spark: org.apache.spark.sql.SparkSession,
                              statsDir: String, field: String): Long = {
    val d = new org.apache.hadoop.fs.Path(statsDir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = "batch_(\\d+)\\.json".r
    val entries = fs.listStatus(d).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case pat(id) => Some(id.toLong ->
          graft.sources.Sources.readJsonSidecarFs(spark, p.toString))
        case _ => None
      }
    }
    val folded = entries.find(_._1 == 0L).map(_._2)
      .flatMap(_.get("folded"))
      .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSet)
      .getOrElse(Set.empty[Long])
    entries.collect { case (id, m) if id == 0L || !folded(id) =>
      m(field).toLong }.sum
  }

  /** Fold the eval-gram store's committed generations into one
    * `batch=0`, its per-batch bloom sidecars into the base filter, and
    * its per-batch `_stats` gram counts into batch 0's entry — the
    * [[compactFpStore]] protocol applied to the decontamination store,
    * closing the file-count growth term on a long suite-publication
    * line. Same SINGLE-WRITER, COMMITTED-BATCHES-ONLY contract as
    * every fold: `maxBatchId` bounds the row-table AND stats folds (a
    * replayed uncommitted batch re-landing its generation after its
    * rows were folded would duplicate grams — harmless to the
    * left-semi consumer — but re-landing its `_stats` entry after its
    * count was folded would double-count the warn bound); the BLOOM
    * fold needs no bound, set union being replay-proof.
    *
    * Crash anatomy: the grams fold rides [[StoreMaintenance]]'s marker
    * (probes/appends fail loudly mid-swap); the bloom fold writes the
    * merged base before deleting batch files (coverage never drops);
    * the stats fold records the folded ids INSIDE batch 0's entry
    * before deleting them, so [[sumStatsEntries]] never double-counts a
    * crash-surviving entry and a re-run prunes it. Folded ids are
    * RETIRED: later appends must use fresh batch ids (the streaming
    * batchId monotonicity every ingest loop already has) — a recycled
    * id would read as crash residue. */
  def compactEvalGramStore(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           maxBatchId: Long = Long.MaxValue): Unit = {
    def gens(): Set[Long] = liveGenIds(spark, s"$dir/grams")
    val gensBefore = gens()
    StoreMaintenance.compactStore(spark, dir, evalGramStoreVersion,
        "writeEvalGramStore", maxBatchId) { _ =>
      Seq(StoreMaintenance.TableSpec("grams", _.select("h1", "h2")))
    }
    // same `_bloom.b<id>.bin` lineage as the fp store (unsharded), same
    // post-fold policy (see compactFpStore): union only while unfolded
    // generations remain; once batch=0 is the only generation, REBUILD
    // the base filter from the folded h1 keys re-sized to
    // max(installed, 2×folded) and record the new capacity in
    // `_meta.json` — this is the de-saturation the warn in
    // appendToEvalGramStore asks for, paid when the folded parquet is
    // already in hand
    resizeEvalGramSidecarAfterFold(spark, dir)
    // stats: batch 0's entry becomes the EXACT row count of the folded
    // generation — one parquet count of the table the fold just
    // rewrote, so a generation whose entry a crashed append never wrote
    // heals here instead of contributing 0 forever. Entries of generations no longer on disk are recorded
    // in batch 0's `folded` list BEFORE being deleted, so a crash
    // between the write and the deletes leaves [[sumStatsEntries]]
    // exact (it skips listed ids) and a re-run prunes the residue.
    val statsDir = new org.apache.hadoop.fs.Path(s"$dir/_stats")
    val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = "batch_(\\d+)\\.json".r
    val entryIds: Set[Long] =
      fs.listStatus(statsDir).toSeq.map(_.getPath.getName).flatMap {
        case pat(id) => Some(id.toLong)
        case _ => None
      }.toSet
    val liveGens: Set[Long] = gens()
    val alreadyFolded = graft.sources.Sources
      .readJsonSidecarFs(spark, s"$dir/_stats/batch_0.json")
      .get("folded")
        .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSet)
        .getOrElse(Set.empty[Long])
    // an id is RETIRED the moment its generation folds into batch=0:
    // the ids folded THIS call (generation-set diff — catches
    // entry-less generations too), entries whose generation dir is gone
    // (a crashed prior run's fold), and every id retired before. The
    // retire set is PERMANENT — batch 0's `folded` list keeps carrying
    // an id after its residue entry file is deleted, because
    // [[appendToEvalGramStore]]'s retired-id require is the only thing
    // standing between a replayed folded batch and double-landed grams
    // + double-counted saturation accounting; forgetting the id once
    // its residue vanished would re-open exactly that door on the next
    // maintenance visit.
    val retire = (gensBefore -- liveGens) - 0L |
      (entryIds - 0L).filterNot(liveGens) | alreadyFolded
    // residue: retired ids whose per-batch entry file still exists
    // (crash between the fold write and the entry deletes)
    val residue = retire & entryIds
    // idempotent no-op: nothing was folded this call (generation set
    // unchanged) and no crash residue to prune — skip the O(store)
    // recount + rewrite a maintenance sweep would otherwise pay per
    // visit
    if (liveGens == gensBefore && residue.isEmpty) return
    val keepFolded = retire.toSeq.sorted
    val count0 = spark.read.parquet(s"$dir/grams/batch=0").count()
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_stats/batch_0.json",
      Map("grams" -> count0.toString,
        "folded" -> keepFolded.mkString(",")))
    retire.foreach { id =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/_stats/batch_$id.json")
      if (fs.exists(p)) fs.delete(p, false)
    }
  }

  /** [[resizeFpSidecarsAfterFold]]'s unsharded twin for the eval-gram
    * store's h1-lane sidecar: union while unfolded generations remain,
    * rebuild re-sized (capacity = max(installed, 2×folded distinct h1))
    * once `batch=0` is the only generation, updating
    * `expectedTotalGrams` so later suite appends build bit-compatible
    * per-batch filters — one [[resizeLane]] call, so the two store
    * families share the meta-first crash discipline by construction. */
  private def resizeEvalGramSidecarAfterFold(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    if (batchBloomFiles(spark, dir).isEmpty) return
    if ((liveGenIds(spark, s"$dir/grams") - 0L).nonEmpty) {
      foldBloomSidecars(spark, dir, shards = 1)
      return
    }
    val meta = openEvalGramStore(spark, dir)
    val fpp = meta("fpp").toDouble
    val (ok, n0) = resizeLane(spark, dir,
      spark.read.parquet(s"$dir/grams/batch=0")
        .select(col("h1").as("k")).distinct(),
      meta("expectedTotalGrams").toLong, fpp,
      newCap => StoreMaintenance.publishMeta(spark, dir,
        evalGramStoreVersion,
        meta + ("expectedTotalGrams" -> newCap.toString)))
    if (!ok) {
      System.err.println(s"[graft] eval-gram store $dir: $n0 folded " +
        "grams need a filter past the single-sidecar ceiling — keeping " +
        "the saturated union; split the suite across stores")
      foldBloomSidecars(spark, dir, shards = 1)
    }
  }

  /** [[decontaminateRewrite]] against the at-rest eval-gram store —
    * BIT-IDENTICAL output to the live operator over the suite the
    * store was built from (the d15/d20 store-equals-live contract,
    * shared t15 oracle): corpus positional grams are prefiltered
    * MAP-SIDE by the sidecar's codegen'd Bloom probe on the h1 lane —
    * clean docs, the overwhelming majority, never touch the store
    * table — and only the surviving sliver pays the exact left-semi
    * verify against the parquet keys on BOTH 128-bit lanes (no false
    * negatives, so nothing is missed; false positives die in the
    * verify, so nothing extra is deleted). Covered positions then run
    * the same merged-interval rewrite as every destructive twin. */
  def decontaminateRewriteFromStore(corpus: DataFrame, dir: String,
                                    idCol: String, textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val meta = openEvalGramStore(spark, dir)
    decontaminateRewriteLoaded(corpus, dir, meta("n").toInt,
      mergedBloomBytes(spark, dir, None), idCol, textCol)
  }

  /** [[decontaminateRewriteFromStore]] with the store's geometry and
    * Bloom bytes already in hand — the repeated-consumer entry point:
    * a streaming loop probing the SAME read-only store every
    * micro-batch ([[graft.streaming.EventStream.streamingDecontamIngest]])
    * loads the sidecar ONCE and closes over it, instead of paying a
    * driver read + executor re-broadcast of the filter bytes
    * (~1.8 bytes/gram — tens of MB for a real eval suite) per batch. */
  def decontaminateRewriteLoaded(corpus: DataFrame, dir: String, n: Int,
                                 probeBytes: Array[Byte],
                                 idCol: String, textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val tokenized = corpus.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val pos = tokenized.select(col("id"),
      posexplode(positionalGrams128(col("toks"), n)).as(Seq("p", "hg")))
    val survivors = pos
      .filter(graft.plans.GraftFunctions.bloomMightContain(spark,
        col("hg.h1"), probeBytes))
      .select(col("id"), col("p"),
        col("hg.h1").as("h1"), col("hg.h2").as("h2"))
    val evalGrams = spark.read.parquet(s"$dir/grams")
    val covered = mergedDropIntervals(
      survivors.join(evalGrams, Seq("h1", "h2"), "left_semi")
        .select(col("id"), col("p")), n)
    rebuildDroppingIntervals(tokenized, covered, idCol)
  }

  /** WITHIN-document self-repetition removal: every token position
    * covered by a word-n-gram occurrence that is not that gram's FIRST
    * occurrence in the SAME document is dropped — the cleanup for
    * degenerate generations, stuttering boilerplate, and repeated
    * headers that `repetitionRatio` (t6) only measures. The cross-doc
    * twin is `removeDupSpans` (global first-occurrence rule); this one
    * keys first-occurrence by (doc, gram), so documents never interact.
    *
    * Scale shape: strictly lighter than `removeDupSpans` — the
    * first-occurrence aggregate groups by (id, gram-hash), which is
    * map-side combinable AND doc-local (no cross-doc hot grams, no
    * skew: a gram's group size is bounded by its repetitions within one
    * document); the covered join back is id+hash keyed. 128-bit keys
    * because this deletes text (see removeDupSpans' birthday note).
    * Output shape: (idCol, n_toks, n_kept, clean_text). */
  def removeSelfRepetition(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 5): DataFrame = {
    // widen a narrow input before the tokenize→positional-gram pass
    // (guide §2.5); no-op on wide input
    val wide = graft.core.Tables.widenIfNarrow(df, idCol)
    val tokenized = wide.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val pos = tokenized.select(col("id"),
        posexplode(positionalGrams128(col("toks"), n)).as(Seq("p", "hg")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firstOcc = pos.groupBy("id", "hg")
      .agg(min(col("p")).as("f_p"), count(lit(1)).as("_occ"))
      .filter(col("_occ") > 1)
      .select(col("id"), col("hg"), col("f_p"))
    val covered = mergedDropIntervals(
      pos.join(firstOcc, Seq("id", "hg"))
        .filter(col("p") =!= col("f_p"))
        .select(col("id"), col("p")), n)
    rebuildDroppingIntervals(tokenized, covered, idCol)
  }

  /** Guarded positional word-n-gram array over a token-array column —
    * one element per POSITION, in order; `hashed = true` emits xxhash64
    * values (8-byte join keys) instead of gram strings. The single
    * source of n-gram semantics for the family: `shingles` distincts
    * it, `dupSpanCoverage` keeps positions — an edit here changes both
    * or neither. Docs shorter than n yield an EMPTY array: Spark's
    * sequence(0, negative) would count DOWN, so the guard is
    * load-bearing, not cosmetic. */
  private def positionalGrams(toks: Column, n: Int, hashed: Boolean): Column = {
    val mk: Column => Column = if (hashed) xxhash64(_) else identity
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => mk(concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
    when(size(toks) >= n, grams)
      .otherwise(array().cast(if (hashed) "array<bigint>" else "array<string>"))
  }

  /** 128-bit positional gram keys for the destructive rewrite: the
    * string array is built once, then each gram is hashed through two
    * xxhash64 lanes (plain, and salted with a constant second column —
    * Spark chains multi-arg xxhash64, so the lanes differ everywhere
    * the single-lane hash differs AND almost everywhere it collides).
    * Two-step transform rather than one: lambda bodies are not CSE'd,
    * so hashing the concat twice inline would build every gram string
    * twice. */
  private def positionalGrams128(toks: Column, n: Int): Column =
    transform(positionalGrams(toks, n, hashed = false),
      g => struct(xxhash64(g).as("h1"), xxhash64(g, lit(1)).as("h2")))

  /** Distinct word-n-gram shingles per document: (id, shingle).
    *
    * The token array is PROJECTED first: element_at(split(...), i) inside
    * the transform lambda would re-run the regex split once per shingle
    * element (free subexpressions in lambda bodies are not CSE'd) —
    * measured 17 s → 2 s on the d4 query at sf0.1. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // the tokenize→gram→hash map pass is the family's dominant per-row
    // cost; widen a narrow input (one-row-group scan, single-file
    // micro-batch) so it runs at core parallelism — no-op on wide input
    val wide = graft.core.Tables.widenIfNarrow(df, idCol)
    val tokenized = wide.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    tokenized.select(col("id"),
      explode(array_distinct(positionalGrams(col("toks"), n, hashed = false)))
        .as("shingle"))
  }

  /** (id, xxhash64(shingle)) projection shared by the whole Jaccard/LSH
    * family. The joins and aggregations all run on 8-byte hash keys, not
    * shingle strings: half the shuffle bytes, cheap comparisons (collision
    * probability over ~10^6 distinct shingles is ~10^-7 — far below the
    * oracle's rounding noise), and when cached it is an order of magnitude
    * lighter than caching the string shingle table. */
  private def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), xxhash64(col("shingle")).as("hs"))

  /** Sized (id, hs, sz) hashed-shingle rows of a frame — the shared
    * per-batch table the streaming near-dup loop computes ONCE and
    * feeds to the signing, the store probe, the within-batch pair pass
    * and the survivor append (the *Sigs seams). Rows carry their doc's
    * size (a sort, no exchange, once `shingles` widened the frame by id). */
  private[graft] def hashedShinglesFor(df: DataFrame, idCol: String,
                                       textCol: String, n: Int): DataFrame =
    hashedShingles(shingles(df, idCol, textCol, n))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))

  /** SIZED signature table of a hashed-shingle frame under a store's
    * pinned geometry — the streaming loop's compute-once seam for the
    * frame the store probe ([[nearDupStoreCandidates]],
    * [[jaccardVsStore]]) reads and [[appendToNearDupStoreSigs]] lands
    * (freeze it before sharing). */
  private[graft] def sizedSignaturesFor(h: DataFrame,
                                        meta: Map[String, String]): DataFrame =
    minHashSignaturesHashed(h, meta("numHashes").toInt,
      meta("minhashSeed").toLong, withSize = true)

  /** The one tail of every Jaccard path, (shared, sz_a, sz_b) → the
    * rounded coefficient ≥ `threshold`: d4, d2 (LSH-verified) and the
    * store probe share one oracle, so they can never silently diverge. */
  private def jaccardOf(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("jaccard",
        round(col("shared") / (col("sz_a") + col("sz_b") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** [[jaccardOf]] with both docs' sizes joined from one (id, sz) table. */
  private def jaccardFromShared(shared: DataFrame, sizes: DataFrame,
                                threshold: Double): DataFrame =
    jaccardOf(shared
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b"),
      threshold)

  /** Exact pairwise Jaccard over distinct shingles for all pairs sharing
    * at least one shingle, filtered to `threshold`. Output:
    * (id_a, id_b, jaccard) with id_a < id_b; coefficients are exact over
    * the full hashed shingle sets.
    *
    * SCALE POSTURE: this is the exact SMALL-CORPUS BASELINE (and the
    * oracle for the LSH path). Even with the hot-shingle cap the
    * candidate join is near-quadratic in shared-shingle co-occurrence —
    * a corpus of uniformly warm (sub-cap) shingles still pays it. At
    * corpus scale call `nearDupPairs`, which measures and routes to
    * MinHash+LSH above `maxExactDocs`.
    *
    * `maxDocFreq` arms the hot-shingle guard: a shingle shared by k docs
    * emits k² self-join rows, and real corpora have boilerplate shingles
    * with k in the millions. One df-stats pass over the hashed projection
    * picks the plan:
    *  - no shingle above the cap (healthy corpora): the uncapped single
    *    self-join IS the right plan — the guard costs exactly that one
    *    stats pass, nothing more;
    *  - hot shingles exist: `jaccardCapped` generates candidates from
    *    cold postings only, so every join bucket is bounded by the cap.
    * Contract when the guard bites: a pair whose shared shingles are ALL
    * hotter than `cap` is not emitted — at a sane cap those pairs are
    * boilerplate-only and sit far below any near-dup threshold (and
    * byte-identical docs are d1's job, run first).
    *
    * The guard path persists the hashed projection (16-byte rows). The
    * cache is keyed by logical plan, so repeated runs over the same input
    * reuse one copy rather than accumulating; long-lived sessions doing
    * one-shot scans can `spark.catalog.clearCache()`. */
  def jaccardPairs(sh: DataFrame, threshold: Double,
                   maxDocFreq: Option[Int] = None): DataFrame = {
    val h = hashedShingles(sh)
    jaccardPairsHashed(
      if (maxDocFreq.isDefined) h.persist(StorageLevel.MEMORY_AND_DISK) else h,
      threshold, maxDocFreq)
  }

  /** The uncapped plan: one hash-bucket self-join + per-pair count.
    * Sized rows ([[hashedShinglesFor]]) carry the sizes through the
    * count; plain rows take them from a partial-aggregated groupBy. */
  private def jaccardAllPairs(h: DataFrame)(threshold: Double): DataFrame = {
    val sized = h.columns.contains("sz")
    val keys = Seq(col("a.id").as("id_a"), col("b.id").as("id_b")) ++
      (if (sized) Seq(col("a.sz").as("sz_a"), col("b.sz").as("sz_b")) else Nil)
    val shared = h.as("a")
      .join(h.as("b"),
        col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("shared"))
    if (sized) jaccardOf(shared, threshold)
    else jaccardFromShared(shared, h.groupBy("id").agg(count(lit(1)).as("sz")),
      threshold)
  }

  /** Active-guard plan: candidate pairs AND their cold-shared counts come
    * from ONE self-join over cold postings (df <= cap bounds every join
    * bucket); the hot postings — tiny relative to the corpus, since at
    * most postings/cap shingles can exceed the cap — are joined back only
    * for pairs whose UPPER Jaccard bound (every hot shingle of the
    * smaller-hot-set doc also shared) clears the threshold. Every emitted
    * pair carries its exact coefficient over the full hashed sets. No
    * driver-side collect: the hot set stays distributed and AQE
    * broadcasts it when it is small. */
  private def jaccardCapped(h: DataFrame, hot: DataFrame,
                            threshold: Double): DataFrame = {
    val sizes = h.groupBy("id").agg(count(lit(1)).as("sz"))
    val cold = h.join(hot, Seq("hs"), "left_anti")
    val hotPost = h.join(hot, Seq("hs"))
    val hotN = hotPost.groupBy("id").agg(count(lit(1)).as("hot_n"))
    val coldShared = cold.as("a")
      .join(cold.as("b"),
        col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("cold_shared"))
    val bounded = coldShared
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .join(hotN.select(col("id").as("id_a"), col("hot_n").as("hot_a")), Seq("id_a"), "left")
      .join(hotN.select(col("id").as("id_b"), col("hot_n").as("hot_b")), Seq("id_b"), "left")
      .na.fill(0L, Seq("hot_a", "hot_b"))
      .withColumn("ub_shared", col("cold_shared") + least(col("hot_a"), col("hot_b")))
      // jaccard is monotone in shared, so the bound with ub_shared is an
      // upper bound; pairs below it here can never pass after verification
      .filter(col("ub_shared") / (col("sz_a") + col("sz_b") - col("ub_shared")) >= threshold)
    val hotShared = bounded.select("id_a", "id_b").as("p")
      .join(hotPost.as("x"), col("p.id_a") === col("x.id"))
      .join(hotPost.as("y"),
        col("p.id_b") === col("y.id") && col("x.hs") === col("y.hs"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("hot_shared"))
    jaccardOf(bounded
      .join(hotShared, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("hot_shared"))
      .withColumn("shared", col("cold_shared") + col("hot_shared")),
      threshold)
  }

  /** Candidate pairs sharing at least one shingle with document frequency
    * <= maxDocFreq. The df filter bounds every join bucket to `cap` docs,
    * so the self-join emits at most cap² rows per shingle — linear in the
    * corpus instead of quadratic in the hottest key. (Standalone candidate
    * generator; the registered d4 path fuses this join with the
    * cold-shared count in `jaccardCapped` instead of re-joining.) */
  def shingleCandidates(sh: DataFrame, maxDocFreq: Int): DataFrame = {
    val h = hashedShingles(sh)
    val cold = h.join(
      h.groupBy("hs").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select("hs"),
      Seq("hs"))
    cold.as("a")
      .join(cold.as("b"), col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard restricted to a candidate pair set (id_a < id_b). */
  private def jaccardForHashed(h: DataFrame, candidates: DataFrame,
                               threshold: Double): DataFrame = {
    // deliberately THREE plain consumers of the (persisted/checkpointed)
    // h table — sizes, and the two sides of the intersection join. A
    // round-8 attempt to "slice h to candidate ids then distinct" cost
    // 40% of the whole bench battery (the semi-join+distinct subtree is
    // not a cached block, so it executed once PER consumer: d3 4.1→18.5
    // s, d10 2.8→10.8 s) and was reverted; callers guarantee h is
    // (id, hs)-unique (per-doc distinct shingles; the at-rest store's
    // append path is batch-keyed idempotent, so replays overwrite
    // rather than duplicate).
    val sizes = h.groupBy("id").agg(count(lit(1)).as("sz"))
    val shared = candidates
      .join(h.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "h_a"), "id_a")
      .join(h.as("b"),
        col("id_b") === col("b.id") && col("h_a") === col("b.hs"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    jaccardFromShared(shared, sizes, threshold)
  }

  /** MinHash signatures: `numHashes` affine transforms of xxhash64(shingle),
    * min per hash per doc — ONE aggregation pass over the shingle table.
    * Seeded, fully deterministic. */
  private def minHashSignaturesHashed(h: DataFrame, numHashes: Int,
                                      seed: Long,
                                      withSize: Boolean = false): DataFrame = {
    // Affine transforms over GF(2^31−1): coefficients < p keep every
    // product < 2^62, so ANSI-mode long arithmetic can't overflow.
    val p = 2147483647L // Mersenne prime 2^31 − 1
    val rnd = new scala.util.Random(seed)
    val coeffs = Array.fill(numHashes)(
      (rnd.nextInt((p - 1).toInt).toLong + 1L, rnd.nextInt(p.toInt).toLong))
    // the base hash is projected ONCE upstream (hashedShingles);
    // 30-bit mask keeps the domain strictly below p (a 31-bit mask would
    // admit h = p itself, which collides with h = 0 under every affine
    // transform)
    val hashed = h.select(col("id"),
      col("hs").bitwiseAND(0x3FFFFFFFL).as("h31"))
    // withSize rides the per-doc shingle count on the SAME aggregation
    // pass (one row per id already): the at-rest store lands it as a
    // `sz` column so probes read sizes off a pruned 2-column scan
    // instead of re-aggregating the whole shingle table per batch
    // (guide §3 — slim the join inputs; the sizes agg was O(store) per
    // probe, the one asymptotically wrong term on an unbounded ingest
    // line)
    val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h31") * a + b, lit(p))).as(s"mh_$i")
    } ++ (if (withSize) Seq(count(lit(1)).as("sz")) else Nil)
    hashed.groupBy("id").agg(minCols.head, minCols.tail.toIndexedSeq: _*)
  }

  /** (id, band, bandHash) bucket rows for a signature table — the LSH
    * join key shared by the self-join (lshCandidates) and the
    * batch-vs-corpus join (incrementalNearDup). */
  private def bandBuckets(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((0 until r).map(i => col(s"mh_${b * r + i}")): _*).as("bh"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH candidate pairs: split the signature into `bands` bands, hash
    * each band, self-join on (band, bandHash). Output distinct
    * (id_a, id_b), id_a < id_b. */
  def lshCandidates(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val exploded = bandBuckets(sig, numHashes, bands)
    exploded.as("x").join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard: candidates
    * from band-bucket collisions, then exact Jaccard ≥ threshold. With
    * 64 hashes / 16 bands, recall at j ≥ 0.8 is 1 − (1 − j⁴)¹⁶ ≥ 0.9997
    * precision is exact because every candidate is verified. */
  def minHashLshDedup(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    // the hashed shingle projection feeds BOTH the signature aggregation
    // and the exact-Jaccard verification — persist it so tokenize+explode
    // runs once. 16-byte rows, ~10× lighter than caching the shingle
    // strings; keyed by logical plan, so repeated runs over the same
    // input reuse one copy rather than accumulating (long-lived sessions
    // doing one-shot scans can spark.catalog.clearCache()).
    val h = hashedShingles(shingles(df, idCol, textCol, shingleSize))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(minHashSignaturesHashed(h, numHashes, 42L),
      numHashes, bands)
    jaccardForHashed(h, cands, threshold)
  }

  /** D10 — incremental near-dup: pair a NEW batch against the landed
    * corpus WITHOUT pairing the corpus with itself — the production
    * ingest shape (the corpus was already near-dedup'd when it landed;
    * re-running the self-join over 100 TB per batch would dwarf the
    * batch). Both sides get MinHash band buckets; the join is
    * batch-buckets × corpus-buckets only, so cost scales with
    * |batch| · collision-rate, never |corpus|²; candidates are then
    * exact-Jaccard-verified over the union of the hashed shingle
    * tables. At production scale the corpus side of BOTH tables
    * (signatures and hashed shingles) is the at-rest store appended at
    * ingest — recomputing here stands in for reading it.
    *
    * CONTRACT: batch and corpus ids must be disjoint (they share one id
    * space). Output: (id_a = batch id, id_b = corpus id, jaccard),
    * exact coefficients. Cache policy: both hashed-shingle projections
    * persist (each feeds the candidate join and the exact verify);
    * blocks are plan-keyed and reused across calls — one-shot sessions
    * reclaim via spark.catalog.clearCache() (NOTES.md "Cache policy in
    * dedup operators"). */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 3, numHashes: Int = 64,
                         bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val hC = hashedShingles(shingles(corpus, idCol, textCol, shingleSize))
      .persist(StorageLevel.MEMORY_AND_DISK)
    crossNearDup(
      hashedShingles(shingles(batch, idCol, textCol, shingleSize))
        .persist(StorageLevel.MEMORY_AND_DISK),
      hC, minHashSignaturesHashed(hC, numHashes, 42L),
      numHashes, bands, threshold)
  }

  /** Shared tail of the incremental paths: batch hashed shingles vs a
    * corpus given as (hashed shingles, signatures) — live or at-rest. */
  private def crossNearDup(hB: DataFrame, hC: DataFrame, sigC: DataFrame,
                           numHashes: Int, bands: Int,
                           threshold: Double, seed: Long = 42L): DataFrame = {
    val bB = bandBuckets(minHashSignaturesHashed(hB, numHashes, seed),
      numHashes, bands)
    val bC = bandBuckets(sigC, numHashes, bands)
    val cands = bB.as("x").join(bC.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    jaccardForHashed(hB.unionByName(hC), cands, threshold)
  }

  /** Materialize the at-rest near-dup store for a corpus: the hashed
    * shingle table and the MinHash signature table, written as parquet
    * under `dir`, plus a `_meta.json` sidecar recording (shingleSize,
    * numHashes, minhashSeed, formatVersion) — everything a reader must
    * agree on, because ANY mismatch (4-gram reader on a 3-gram store, a
    * differently-seeded signer) silently yields near-zero pairs. This is
    * what turns `incrementalNearDup`'s "recomputing the corpus side
    * stands in for reading it" into the real production shape —
    * signatures are computed ONCE at ingest and every later batch reads
    * them (append a dedup'd batch's own tables with SaveMode.Append to
    * grow the store). Store rows are 8-byte hashes/ids only — ~10×
    * lighter than the text. The sidecar goes through the store dir's
    * Hadoop filesystem so an hdfs://-/s3a://-rooted store keeps its
    * meta NEXT TO its tables, not on the driver's local disk.
    *
    * Every generation (this install is `batch=0`) also lands its
    * band-bucket keys as ONE flat file set under
    * `bandkeys/batch=<id>` — (band, bh, id) rows, ~(4 B + 4 B + 8 B) ×
    * bands per doc — and probes join their own band keys against it on
    * (band, bh). The banding geometry is pinned in the sidecar. The
    * earlier (band, pfx)-partitioned tree (bands · 2^pfxBits directories
    * per generation) was dropped: its prefix prune never fires on a
    * batch of more than a few docs — a 100-doc batch misses one of a
    * band's 4 prefixes with probability ≤ 4·(3/4)^100 ≈ 1e-12 — so every
    * probe read every directory anyway, while every install, append and
    * fold paid a 64-way shuffle and 64 directory creates. */
  def writeNearDupStore(corpus: DataFrame, idCol: String, textCol: String,
                        dir: String, shingleSize: Int = 3,
                        numHashes: Int = 64, seed: Long = 42L,
                        bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val h = hashedShingles(shingles(corpus, idCol, textCol, shingleSize))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // batch=0 is the base install; appends land under their own
    // batch=<id> subdirs (see appendToNearDupStore), so every write to
    // the store is an idempotent per-batch overwrite. NOTE: overwrite
    // replaces batch=0 only — re-installing over a dir that already has
    // append batches keeps them (resuming an ingest line); a true
    // fresh install starts from an empty dir.
    // REBALANCE before the shingle and signature writes (guide §6): the upstream map
    // pass runs at core parallelism (shingles' widen), so an unhinted
    // write would land one tiny file per task per generation — and at
    // probe time each tiny file is its own scan split. The AQE-managed
    // rebalance writes size-targeted files instead: few per generation
    // here, advisory-sized at cluster scale, deferring the compaction
    // pressure the maintenance matrix exists to relieve.
    //
    // The sized signature table (sz = per-doc shingle count on the same
    // agg pass) is part of the v4 layout; probes do not read it — they
    // size the candidate store docs from their shingle rows.
    val sigs = minHashSignaturesHashed(h, numHashes, seed, withSize = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the three tables are independent given the persisted inputs
    // (distinct dirs; the store is not live until _meta.json lands
    // LAST) — overlap their jobs so one write's commit tail backfills
    // the next's scan (guide §2.6)
    graft.core.Par.run(
      () => h.hint("rebalance").write.mode("overwrite")
        .parquet(s"$dir/shingles/batch=0"),
      () => {
        sigs.hint("rebalance").write.mode("overwrite")
          .parquet(s"$dir/signatures/batch=0")
        // band keys land AFTER the signature write: a candidate implies
        // its band-key row, which now implies the signature (and its
        // sz) landed — the inert-orphan classes stay exactly the
        // documented ones
        writeBandKeysGeneration(sigs, dir, 0L, numHashes, bands)
      })
    sigs.unpersist()
    h.unpersist()
    StoreMaintenance.publishMeta(corpus.sparkSession, dir,
      nearDupStoreVersion,
      Map("shingleSize" -> shingleSize.toString,
        "numHashes" -> numHashes.toString,
        "minhashSeed" -> seed.toString,
        "bands" -> bands.toString))
  }

  /** The near-dup store's layout version — sized signatures plus one
    * flat band-key file set per generation — shared by
    * [[writeNearDupStore]] and every reader through
    * [[openNearDupStore]]. An older store (a (band, pfx) band-key
    * tree, or no band keys at all) is refused, never read: a flat
    * generation cannot share a table with the tree. */
  private val nearDupStoreVersion = "4"

  /** [[StoreMaintenance.open]] for the near-dup store: the streaming
    * loop opens once per trigger and hands the meta to the probe and
    * the append. */
  private[graft] def openNearDupStore(spark: org.apache.spark.sql.SparkSession,
                                      dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, nearDupStoreVersion,
      "writeNearDupStore")

  /** Grow the at-rest store with a batch — the other half of the ingest
    * loop `writeNearDupStore` starts: after a batch has been paired
    * against the store (`incrementalNearDupFromStore`) and its true
    * dups dropped, the SURVIVORS' hashed shingles and signatures are
    * appended so the NEXT batch dedups against corpus ∪ batch. The
    * batch is signed with the STORE's parameters and seed (read from
    * `_meta.json`) — the append is only meaningful if writer and reader
    * agree, which is exactly what the sidecar pins. Parquet
    * SaveMode.Append is file-level, so the growth path never rewrites
    * landed data — O(batch) work per batch regardless of corpus size.
    *
    * IDEMPOTENT PER BATCH at O(batch) cost — no store scan at all:
    * both tables land under `batch=<batchId>` subdirectories with
    * OVERWRITE semantics, so an at-least-once replay (foreachBatch's
    * contract supplies the stable batchId) rewrites the same
    * directories instead of appending duplicates, and every
    * crash-and-replay interleaving converges by overwrite. This is the
    * design that survives scale review: an earlier guard anti-joined a
    * store id projection per append — O(store) work per batch on the
    * shingle table, and the cheap signature-table variant left a crash
    * window where replay duplicated shingle rows (which corrupt every
    * later jaccard against those docs). A crash BETWEEN the two writes
    * leaves a batch with shingles but no signatures (or vice versa)
    * until the replay heals it; both orphan classes are inert — a doc
    * pairs only when its SIGNATURE row produces a band-bucket
    * candidate, and candidate verification reads shingles that the
    * healed batch re-lands. Callers append SURVIVORS of a store
    * pairing, so cross-batch id overlap is a caller contract, not a
    * store check. */
  def appendToNearDupStore(batch: DataFrame, dir: String,
                           idCol: String, textCol: String,
                           batchId: Long): Unit = {
    // batchId namespace is the CALLER's contract: one writer lineage per
    // store — a stream's ids and a manual backfill's must not collide,
    // or the overwrite silently replaces the earlier batch
    require(batchId > 0, "batchId 0 is the base install (writeNearDupStore)")
    val spark = batch.sparkSession
    val meta = openNearDupStore(spark, dir)
    // EAGER SNAPSHOT, not persist: the rows to write must be frozen
    // BEFORE the first write touches the store. A caller's batch — e.g.
    // a streaming loop's `kept` — typically descends from a pairing
    // that scans the store, and Spark recaches path-dependent
    // plan-keyed cache entries after each parquet write; a merely
    // persisted `h` would be invalidated by the FIRST write and
    // recomputed against the HALF-WRITTEN store — where the batch doc
    // now near-dups its own just-landed signature — so the SECOND
    // write would land zero rows. localCheckpoint truncates the
    // lineage so both writes emit the same frozen rows.
    val h = hashedShingles(shingles(batch, idCol, textCol,
      meta("shingleSize").toInt)).localCheckpoint()
    val sigs = sizedSignaturesFor(h, meta).localCheckpoint()
    appendGenerationTables(spark, h, sigs, dir, batchId, meta)
    sigs.unpersist()
    h.unpersist()
  }

  /** [[appendToNearDupStore]] from caller-held shingles AND sized
    * signatures, under a `meta` the caller [[openNearDupStore]]ed in
    * the same trigger — the streaming loop's share-the-minhash seam:
    * the probe's frozen sigB, sliced to the survivors, lands directly,
    * so the per-trigger minhash aggregation runs ONCE (probe) instead
    * of twice (probe + append). CALLER CONTRACT, replacing the public
    * append's localCheckpoint: both frames must be safe to recompute
    * mid-append — lineage either FROZEN (a localCheckpoint'd frame, or
    * a slice of one by a frozen id list) or reading only non-store
    * inputs. A lineage that scans the store would be recomputed against
    * the half-written store by the second write and land zero rows. */
  private[graft] def appendToNearDupStoreSigs(hKept: DataFrame,
                                              sigsKept: DataFrame,
                                              dir: String, batchId: Long,
                                              meta: Map[String, String]): Unit = {
    require(batchId > 0, "batchId 0 is the base install (writeNearDupStore)")
    appendGenerationTables(hKept.sparkSession, hKept, sigsKept, dir,
      batchId, meta)
  }

  /** Shared write fan-out of the append paths. `h`/`sigs` must be
    * frozen or store-lineage-free (see callers). The two lanes run
    * CONCURRENTLY (guide §2.6); every crash interleaving degrades to
    * the two documented inert-orphan classes (a batch with shingles
    * but no signatures pairs nothing until the replay heals it;
    * signatures/band keys without shingles produce candidates whose
    * verify finds no shingle rows — dropped until the same replay), so
    * overlapping them adds NO new crash state. Band keys land strictly
    * AFTER the signature write: a candidate implies its band-key row,
    * which implies the signature row (and its sz) landed. */
  private def appendGenerationTables(spark: org.apache.spark.sql.SparkSession,
                                     h: DataFrame, sigs: DataFrame,
                                     dir: String, batchId: Long,
                                     meta: Map[String, String]): Unit = {
    // no rebalance, measured on the 100-doc streaming append (perfbench
    // dedup_ingest, 4 cores, a fold every 3 triggers): it cost three
    // jobs and a slower median trigger. The price: a generation lands up
    // to one file per writer task (store files 50 → 92 there), which
    // every probe lists until a fold re-packs them — never, in a stream
    // with compactStoreEvery = 0
    graft.core.Par.run(
      () => h.write.mode("overwrite")
        .parquet(s"$dir/shingles/batch=$batchId"),
      () => {
        sigs.write.mode("overwrite")
          .parquet(s"$dir/signatures/batch=$batchId")
        writeBandKeysGeneration(sigs, dir, batchId,
          meta("numHashes").toInt, meta("bands").toInt)
      })
    // invalidate cached reads of the store: CacheManager matches plans
    // by ROOT PATH, not file listing, so a store scan persisted by an
    // earlier incrementalNearDupFromStore in this session would keep
    // serving the PRE-append file list — a reader in the same session
    // would silently miss everything this append landed. The writer
    // invalidates; readers stay oblivious.
    spark.catalog.refreshByPath(dir)
  }

  /** Shared writer half of the band-key table: explode signatures into
    * (band, bh, id) keys and land them as ONE flat file set under the
    * batch's generation dir, partitioned as the signatures are — not a
    * (band, pfx) partitioned write: a generation is a handful of files
    * whatever the banding geometry, and the probe's (band, bh) join
    * reads them whole. A prefix prune would never prune a batch of more
    * than a few docs (see writeNearDupStore). */
  private def writeBandKeysGeneration(sigs: DataFrame, dir: String,
                                      batchId: Long, numHashes: Int,
                                      bands: Int): Unit =
    bandBuckets(sigs, numHashes, bands)
      .select(col("band"), col("bh"), col("id"))
      .write.mode("overwrite").parquet(s"$dir/bandkeys/batch=$batchId")

  /** Fold every landed generation of the near-dup store into a single
    * `batch=0` per table — the maintenance op that bounds file/dir
    * counts on a long ingest line (week 50 of a crawl is thousands of
    * `batch=<id>` dirs of small files; probes pay the listing even
    * when pruned). SINGLE-WRITER, COMMITTED-BATCHES-ONLY contract:
    * call it from the ingest lineage itself (the foreachBatch
    * maintenance slot — every batch it sees is checkpoint-committed
    * and will never replay) or offline with ingest stopped. Compacting
    * a batch that later REPLAYS would double its shingle rows (which
    * corrupt jaccard) — the checkpoint is what makes that impossible.
    *
    * Crash-safe in three phases: (1) STAGE full copies of every table
    * under `_compacting/` (the store is untouched — a crash leaves
    * stale staging that the next run deletes and redoes); (2) COMMIT
    * by the rename-atomic `_compact_swap.json` marker (staging is now
    * authoritative); (3) SWAP table by table (delete old dir, move
    * staged dir in), then clear marker + staging. A crash during (3)
    * resumes from the marker — the next compact call finishes the swap
    * idempotently (a table already swapped has no staged dir left), and
    * until then every probe and append fails loudly on the marker. */
  def compactNearDupStore(spark: org.apache.spark.sql.SparkSession,
                          dir: String,
                          maxBatchId: Long = Long.MaxValue): Unit =
    StoreMaintenance.compactStore(spark, dir, nearDupStoreVersion,
        "writeNearDupStore", maxBatchId) { meta =>
      // the fold keeps the v4 layout's per-doc shingle count on the
      // signature table
      val sigCols = (0 until meta("numHashes").toInt).map(i => s"mh_$i") :+ "sz"
      Seq(
        StoreMaintenance.TableSpec("shingles", _.select("id", "hs")),
        StoreMaintenance.TableSpec("signatures", _.select("id", sigCols: _*)),
        StoreMaintenance.TableSpec("bandkeys", _.select("band", "bh", "id")))
    }

  /** D10 against the at-rest store: the batch is the only side that
    * tokenizes, hashes, or signs — the corpus arrives as parquet scans
    * of the store `writeNearDupStore` landed. The shingle size, hash
    * count, MinHash seed AND banding come FROM the store's `_meta.json`
    * (a mismatched reader would silently emit near-zero pairs — 4-gram
    * hashes never collide with a 3-gram store, and a differently-seeded
    * or differently-banded batch never meets the stored band keys);
    * `threshold` stays a query-time knob. Same output as
    * `incrementalNearDup` on the same corpus at the store's banding
    * (spec-pinned).
    *
    * Cache policy: the batch projection is persisted (it feeds the
    * signatures AND the exact-Jaccard verify), and so are the candidate
    * pairs ([[nearDupStoreCandidates]]). Like the rest of the
    * dedup family the blocks are keyed by logical plan and reused
    * across calls on the same inputs; one-shot sessions reclaim them
    * with spark.catalog.clearCache() (NOTES.md "Cache policy in dedup
    * operators"). */
  def incrementalNearDupFromStore(batch: DataFrame, dir: String,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.8): DataFrame = {
    val meta = openNearDupStore(batch.sparkSession, dir)
    val hB = hashedShinglesFor(batch, idCol, textCol,
        meta("shingleSize").toInt)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialized, so the band-key join is planned on sigB's real size
    val sigB = sizedSignaturesFor(hB, meta).persist(StorageLevel.MEMORY_AND_DISK)
    sigB.rdd.count()
    jaccardVsStore(hB, nearDupStoreCandidates(sigB, dir, meta), dir,
      threshold)
  }

  /** A store table read with a pinned schema: no schema-inference job. */
  private def storeTable(spark: org.apache.spark.sql.SparkSession,
                         dir: String, table: String,
                         cols: (String, DataType)*): DataFrame =
    spark.read.schema(StructType(cols.map { case (n, t) => StructField(n, t) }))
      .parquet(s"$dir/$table")

  /** The probe's candidate pairs (id_a, id_b): band keys of the frozen
    * batch signatures `sigB` that meet the store's band keys. A pair
    * meeting in several bands repeats; the verify drops repeats in an
    * exchange it needs anyway. PERSISTED AND MATERIALIZED, so the verify
    * is planned on their real size (a checkpoint would carry the join's
    * product-sized estimate): small candidates are broadcast, large ones
    * shuffled, none collected. No join has a broadcast hint: a 100-doc
    * batch is broadcast against a large store, a corpus streams against
    * a small eval-suite store. The caller unpersists them, or leaves
    * them to the dedup family's cache policy. */
  private[graft] def nearDupStoreCandidates(sigB: DataFrame, dir: String,
                                            meta: Map[String, String]): DataFrame = {
    val candidates = bandBuckets(sigB, meta("numHashes").toInt,
        meta("bands").toInt).withColumnRenamed("id", "id_a")
      .join(storeTable(sigB.sparkSession, dir, "bandkeys",
          "band" -> IntegerType, "bh" -> IntegerType,
          "id" -> sigB.schema("id").dataType)
        .withColumnRenamed("id", "id_b"), Seq("band", "bh"))
      .select("id_a", "id_b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // an RDD count: one job fewer than Dataset.count's aggregate
    candidates.rdd.count()
    candidates
  }

  /** Exact Jaccard of the store candidates (id_a from the sized batch
    * rows `hB`). The store's shingles stream through a join that keeps
    * candidate docs; ONE exchange by pair then drops repeated pairs,
    * sizes each store doc by a window and feeds the per-pair count, so
    * the signature table is not read. Same rows as jaccardForHashed
    * over hB ∪ the store's shingles. */
  private[graft] def jaccardVsStore(hB: DataFrame, candidates: DataFrame,
                                    dir: String, threshold: Double): DataFrame = {
    val storeRows = storeTable(hB.sparkSession, dir, "shingles",
        "id" -> hB.schema("id").dataType, "hs" -> LongType)
      .withColumnRenamed("id", "id_b")
      .join(candidates, "id_b")
      .repartition(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b", "hs")
      .withColumn("sz_b", count(lit(1)).over(Window.partitionBy("id_a", "id_b")))
    jaccardOf(storeRows
      .join(hB.select(col("id").as("id_a"), col("hs"), col("sz").as("sz_a")),
        Seq("id_a", "hs"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("shared")),
      threshold)
  }

  /** True ⇔ the corpus is small enough that the exact all-shared-shingle
    * self-join (`jaccardPairs`) is affordable; false ⇔ take the MinHash
    *+LSH path. Pure, so the routing rule itself is spec-pinned. */
  private[operators] def exactJaccardAffordable(nDocs: Long, maxExactDocs: Long): Boolean =
    nDocs <= maxExactDocs

  /** Near-duplicate pairs with AUTOMATIC path selection — the entry point
    * callers should use when the corpus size is not known up front.
    *
    * `jaccardPairs` is exact but its candidate join is near-quadratic in
    * shared-shingle co-occurrence even with the hot-shingle cap
    * (measured on the replicated-documents corpus, NOTES.md "Measured
    * dedup scaling": exact is the FASTER path at 5 k docs — 2.3 s vs
    * LSH's 4.5 s fixed signature cost — already 4× slower at 25 k
    * (16.5 s vs 4.3 s), and 6.5× at 50 k), so it must never be the
    * default reached at corpus scale. This wrapper counts the corpus
    * (one cheap metadata-backed action) and routes: ≤ `maxExactDocs` →
    * the exact baseline; above it → `minHashLshDedup`. The 10 k default
    * sits at the measured crossover. Both paths emit
    * (id_a, id_b, jaccard) with EXACT coefficients (LSH candidates are
    * exact-verified), so the switch changes recall only for pairs
    * hugging the threshold — with 64 hashes / 16 bands, P[miss] at
    * j ≥ 0.8 is ≤ (1 − 0.8⁴)¹⁶ ≈ 3·10⁻⁴ and falls off a cliff above it. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.8,
                   maxDocFreq: Option[Int] = Some(100),
                   maxExactDocs: Long = 10000L,
                   numHashes: Int = 64, bands: Int = 16): DataFrame =
    if (exactJaccardAffordable(df.count(), maxExactDocs))
      jaccardPairs(shingles(df, idCol, textCol, shingleSize), threshold, maxDocFreq)
    else
      minHashLshDedup(df, idCol, textCol, shingleSize, numHashes, bands, threshold)

  /** [[nearDupPairs]] from caller-held PERSISTED sized shingle rows
    * ([[hashedShinglesFor]]; the streaming loop's compute-once seam).
    * Same routing rule and same emitted pairs as the from-text entry on
    * the same docs: the exact path runs the capped jaccard over `h`
    * directly, the LSH fallback bands `h`'s signatures with the default
    * seed — exactly what minHashLshDedup derives from the raw text. The
    * hot-shingle guard is armed only when `cap < nDocs`: `h` is
    * (id, hs)-unique, so no shingle's document frequency can exceed
    * nDocs, and a stats pass that can never bite is skipped. */
  private[graft] def nearDupPairsHashed(h: DataFrame, nDocs: Long,
                                        threshold: Double,
                                        maxDocFreq: Option[Int] = Some(100),
                                        maxExactDocs: Long = 10000L,
                                        numHashes: Int = 64, bands: Int = 16,
                                        seed: Long = 42L): DataFrame =
    if (exactJaccardAffordable(nDocs, maxExactDocs))
      jaccardPairsHashed(h, threshold, maxDocFreq.filter(_ < nDocs))
    else jaccardForHashed(h, lshCandidates(
      minHashSignaturesHashed(h, numHashes, seed), numHashes, bands), threshold)

  /** [[jaccardPairs]] over hashed rows, plain or sized — the caller
    * persists them when the guard is armed (its stats pass and the plan
    * it picks both read `h`). */
  private def jaccardPairsHashed(h: DataFrame, threshold: Double,
                                 maxDocFreq: Option[Int]): DataFrame =
    maxDocFreq match {
      case None => jaccardAllPairs(h)(threshold)
      case Some(cap) =>
        val hot = h.groupBy("hs").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("hs")
        // the stats action also materializes a persisted h, so whichever
        // plan follows re-reads cached rows instead of re-tokenizing
        if (hot.isEmpty) jaccardAllPairs(h)(threshold)
        else jaccardCapped(h.select("id", "hs"), hot, threshold)
    }

  /** Smallest number of INDEPENDENT MinHash seeds that drives the
    * per-pair LSH miss probability at similarity ≥ `threshold` under
    * `missBound`: one (b bands × r rows) run misses a j-similar pair
    * with probability (1 − j^r)^b, and independent seeds multiply.
    * With 64 hashes / 16 bands at j = 0.8: one seed ≤ 2.2e-4, two
    * seeds ≤ 4.9e-8 — already under the 1e-7 default. */
  def seedsForMissBound(threshold: Double, numHashes: Int, bands: Int,
                        missBound: Double = 1e-7): Int = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val p1 = math.pow(1.0 - math.pow(threshold, r), bands)
    var s = 1
    var p = p1
    while (p > missBound && s < 16) { s += 1; p *= p1 }
    require(p <= missBound,
      f"$s%d seeds of $bands%d×$r%d LSH cannot reach miss ≤ $missBound%g at j ≥ $threshold%.2f")
    s
  }

  /** Multi-seed over-banded LSH near-dup pairs for SPLIT hygiene —
    * the 100 TB generator behind [[graft.ops.Sampling.leakageFreeSplitNearDup]].
    *
    * A split gate cannot absorb a missed pair the way dedup can: d6
    * tolerates an LSH miss as one relabel, but a miss here splits a
    * connected component in two and can flip whole groups' train/test
    * sides. Instead of falling back to the exact quadratic pair pass
    * (the small-corpus ORACLE — its ScaleProbe curve bends hard by
    * 50 k docs), the band-bucket candidate generator runs under
    * [[seedsForMissBound]] independent MinHash seeds and the union is
    * exact-Jaccard-verified, driving the per-pair miss probability at
    * j ≥ `threshold` below `missBound` — default 1e-7, the same order
    * as the xxhash64 gram-collision risk the whole Jaccard family
    * already accepts. Precision is exact (every candidate verified);
    * recall is bounded analytically, not hoped for.
    *
    * Scale shape: ONE persisted 16-byte hashed-shingle projection
    * feeds every per-seed signature aggregation and the final verify
    * join; candidates stay banded (each seed is linear in corpus
    * size), so the whole generator is seeds × the d2 plan — flat
    * where the exact pass explodes. */
  def lshPairsMultiSeed(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.8,
                        missBound: Double = 1e-7, numHashes: Int = 64,
                        bands: Int = 16): DataFrame = {
    val nSeeds = seedsForMissBound(threshold, numHashes, bands, missBound)
    val h = hashedShingles(shingles(df, idCol, textCol, shingleSize))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = (0 until nSeeds).map { i =>
        lshCandidates(
          minHashSignaturesHashed(h, numHashes, 42L + 1000L * i),
          numHashes, bands)
      }.reduce(_ unionByName _).distinct()
    jaccardForHashed(h, cands, threshold)
  }

  /** Embedding-cosine near-duplicate pairs, brute force: all (id_a < id_b)
    * pairs with cosine ≥ threshold, scored by the native codegen'd kernel.
    * The non-equi join is a BroadcastNestedLoop — it requires one full copy
    * of the corpus per task, so it is the TEST ORACLE for the two scale
    * paths below, not a production path. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.plans.GraftFunctions.cosineSim(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** EXACT embedding near-dup pairs at scale: tiled all-pairs θ-join.
    *
    * Same answer as `embeddingNearDups`, different physical plan: every
    * vector is hashed to one of `blocks` blocks; the (block_a ≤ block_b)
    * tile table drives two broadcast-replicate joins; the tile key is then
    * an EQUI-join, so the corpus shuffles hash-uniformly and each task
    * scores one (n/blocks)² tile with bounded memory. No full-corpus
    * broadcast anywhere — this survives 10⁸ vectors on a real cluster,
    * where BroadcastNestedLoop dies assembling the broadcast side.
    * Replication factor is blocks+1 (the standard exact-θ-join price);
    * the O(n²) cosine WORK is inherent to an exact answer — when the
    * threshold has real angular separation, use `embeddingNearDupsLsh`
    * to skip most of it.
    *
    * Diagonal tiles see each unordered pair in both orders; pairs are
    * normalized (least, greatest) and distinct'd AFTER the threshold
    * filter, so the dedup shuffle only carries survivors. */
  def embeddingNearDupsTiled(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, blocks: Int = 16): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    import df.sparkSession.implicits._
    val tiles = (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("blk_a", "blk_b")
    val withBlk = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("blk"))
    val left = withBlk.join(broadcast(tiles), col("blk") === col("blk_a"))
      .select(col("blk_a"), col("blk_b"), col("id").as("id_l"), col("v").as("v_l"))
    val right = withBlk.join(broadcast(tiles), col("blk") === col("blk_b"))
      .select(col("blk_a"), col("blk_b"), col("id").as("id_r"), col("v").as("v_r"))
    left.join(right, Seq("blk_a", "blk_b"))
      .filter(col("id_l") =!= col("id_r"))
      .withColumn("cos",
        graft.plans.GraftFunctions.cosineSim(col("v_l"), col("v_r")))
      .filter(col("cos") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("cos"), 6).as("cos_sim"))
      .distinct()
  }

  /** Banded random-hyperplane candidate pairs: `bits` sign bits per vector
    * (seeded Gaussian hyperplanes), split into `bands` band-hashes; a pair
    * is a candidate iff it collides on at least one band. The self-join key
    * is (band, bandHash), so candidates are bounded by bucket sizes —
    * ~linear when the threshold has angular separation. */
  def embeddingLshCandidates(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, bits: Int, bands: Int,
                             seed: Long = 42L): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    // sign bits are projected ONCE (free subexpressions in later band
    // hashes would recompute every dot product per band otherwise)
    val signCols = (0 until bits).map { b =>
      val dot = aggregate(
        zip_with(col("_v"), lit(planes(b)), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
      when(dot > 0, 1).otherwise(0).as(s"s_$b")
    }
    val signed = df.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .select(col("id") +: signCols: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((0 until r).map(i => col(s"s_${b * r + i}")): _*).as("bh"))
    }
    val exploded = signed.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    exploded.as("x").join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Embedding near-dup pairs at scale for SEPARABLE thresholds: LSH-band
    * candidates + exact-cosine verify — the mirror of d2's MinHash→Jaccard
    * split. Precision is exact (every candidate is verified); recall for a
    * true pair at cosine c is 1 − (1 − p^r)^bands with p = 1 − arccos(c)/π,
    * r = bits/bands — e.g. c ≥ 0.95, bits=128, bands=16: ≥ 0.9997.
    *
    * NOT wired as the registered d5 default: the synthetic embeddings
    * corpus has no angular gap at its 0.45 threshold (true pairs at cos
    * 0.450–0.513 vs background up to 0.4497 — hyperplane bit-agreement
    * 0.649 vs 0.648), so no banding is simultaneously exact and selective
    * there; the exact tiled join is the honest scale path for that query.
    * See NOTES.md "d5 scale design". */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, dim: Int,
                           bits: Int = 128, bands: Int = 16,
                           seed: Long = 42L): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val cands = embeddingLshCandidates(df, idCol, vecCol, dim, bits, bands, seed)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.withColumnRenamed("id", "id_a").withColumnRenamed("v", "v_a"), "id_a")
      .join(vecs.withColumnRenamed("id", "id_b").withColumnRenamed("v", "v_b"), "id_b")
      .withColumn("cos",
        graft.plans.GraftFunctions.cosineSim(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Connected components over a near-dup pair graph: every node labeled
    * with the smallest id in its component — the step that turns pair
    * lists (d1–d5 output) into duplicate CLUSTERS with one canonical
    * (keeper) document each. Output: (id, cluster_id).
    *
    * Iterative min-label propagation WITH POINTER JUMPING: each round
    * (a) takes the elementwise min of a node's label and its neighbors'
    * labels over the (symmetrized, persisted-once) edge table, then
    * (b) follows the resulting label one hop (label := label(label)) —
    * the classic shortcut that makes even a pure path graph converge in
    * O(log n) rounds instead of O(diameter), so the default `maxIter`
    * covers components of astronomical depth (2^24 hops). Convergence
    * is detected with one scalar aggregate — the label sum is strictly
    * decreasing until the fixed point — and labels are
    * localCheckpointed per round so the plan stays O(1) deep. Per-round
    * cost at scale: two shuffles of (node, label) pairs —
    * payload-free by construction. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // Symmetrize with ONE pass over `pairs` (explode of the two
    // directed copies) — a self-union would evaluate the upstream pair
    // plan (often an expensive LSH/verify pipeline) twice on the first
    // materialization. No distinct(): min-label propagation is
    // idempotent under duplicate edges, so deduplication is a whole
    // extra shuffle that buys nothing.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("s"), col(bCol).as("d")),
        struct(col(bCol).as("s"), col(aCol).as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    // ids must be numeric (long): the convergence test sums labels
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("cluster_id"), lit(0L))).head().getLong(0)
    var converged = false
    var iter = 0
    var lastSum = -1L // sentinel: never equals a real non-negative sum
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("d") === labels("id"))
        .groupBy("s").agg(min("cluster_id").as("nmin"))
      val stepped = labels
        .join(neighborMin, labels("id") === neighborMin("s"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jumping: follow the stepped label one hop THROUGH THE
      // PREVIOUS (already-materialized) labels — label chains still
      // halve every round (one-round lag), but `stepped` is computed
      // exactly once instead of feeding two plan subtrees
      val parents = labels
        .select(col("id").as("cluster_id"), col("cluster_id").as("_pl"))
      // lazy checkpoint: the convergence-sum action right below both
      // materializes it and reads it — an eager checkpoint would run a
      // separate materialization job per round for nothing
      labels = stepped
        .join(parents, Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("_pl"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(false)
      val s = labelSum(labels)
      converged = s == lastSum
      lastSum = s
      iter += 1
    }
    edges.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Quality-argmax keeper selection per near-dup cluster: label every
    * doc with its connected component over `pairs`, then elect the
    * member with the HIGHEST `quality` (ties → smallest id) as that
    * cluster's keeper. Min-id keeper selection (`keepersFromPairs`,
    * d6) is arbitrary; a curation pipeline wants to keep the best copy
    * of each duplicated document, not the first-crawled one — this is
    * that policy as an operator, parameterized by any deterministic
    * quality column (e.g. `TextAnalysis.qualityScore`).
    *
    * Scale shape: quality is a map-side per-row expression; the keeper
    * election is ONE struct-max aggregate per cluster (map-side
    * combinable — no corpus-wide window, whose sort would shuffle every
    * row); the elected-keeper table is one row per CLUSTER, so AQE
    * broadcasts the label-back join and the doc payload never shuffles.
    * Tie-break rides inside the max: struct(q, -id, id) compares
    * lexicographically, so max q wins, then max(-id) = min id.
    *
    * Output: (idCol, cluster_id, q, keeper_id, n_members, kept 0/1) —
    * filter kept = 1 for the deduped corpus. Singletons keep
    * themselves. */
  def clusterKeepers(docs: DataFrame, idCol: String, quality: Column,
                     pairs: DataFrame): DataFrame = {
    val labeled = docs.select(col(idCol).as("id"), quality.as("q"))
      .join(connectedComponents(pairs, "id_a", "id_b"), Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
    val keepers = labeled.groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("id")).as("_negid"),
          col("id").as("kid"))).as("_m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("_m.kid").as("keeper_id"),
        col("n_members"))
    labeled.join(keepers, Seq("cluster_id"))
      .select(col("id").as(idCol), col("cluster_id"), col("q"),
        col("keeper_id"), col("n_members"),
        (col("id") === col("keeper_id")).cast("int").as("kept"))
  }

  /** Keep one canonical row per near-dup cluster: connected components
    * over the pair graph, keep the row whose id IS its cluster's minimum
    * (singletons keep themselves). The shared tail of the semantic-dedup
    * variants; `pairs` must carry (id_a, id_b). */
  private def keepersFromPairs(df: DataFrame, idCol: String,
                               pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    df.join(clusters, Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
  }

  /** Semantic (embedding-space) dedup, EXACT: drop every document whose
    * embedding sits within `threshold` cosine of a kept document —
    * near-dup pairs from the tiled exact θ-join, clustered, one keeper
    * (smallest id) per cluster. The SemDeDup operation
    * (Abbas et al. 2023, arXiv:2303.09540) with exact pair generation:
    * the paper prunes ~50% of web-scale corpora at minimal quality loss
    * by removing embedding-space near-duplicates that string-level dedup
    * (d1–d4) cannot see. Cost is the exact θ-join's O(n²) cosine work —
    * inherent to an exact answer (see `embeddingNearDupsTiled`); at
    * corpus scale use `semanticDedupWithinCells`, which is the paper's
    * actual formulation. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, blocks: Int = 16): DataFrame =
    keepersFromPairs(df, idCol,
      embeddingNearDupsTiled(df, idCol, vecCol, threshold, blocks))

  /** Semantic dedup, WITHIN-CELL (the SemDeDup paper's formulation and
    * the 100 TB path): a seeded k-means coarse quantizer assigns every
    * embedding to one of `nCells` cells; near-dup pairs are generated
    * only INSIDE a cell (one equi-join on the cell id — per-cell
    * all-pairs, so sizing nCells ∝ n keeps cells bounded and total work
    * ~n²/nCells instead of n²), then clustered and pruned to one keeper
    * per component. Cross-cell near-dups are missed BY DESIGN — the
    * paper's accepted trade; consequently the kept set is always a
    * SUPERSET of `semanticDedup`'s (fewer edges → finer components →
    * every exact keeper still keeps; spec-pinned). K-means centroids are
    * JVM-float products, so this variant is ScalaTest-verified against
    * the exact path rather than DuckDB-oracle-checked. */
  def semanticDedupWithinCells(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, nCells: Int = 16,
                               seed: Long = 42L): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val (cells, _) = Similarity.quantize(df, nCells, seed, idCol, vecCol)
    val pairs = cells.select(col("n_id"), col("n_vec"), col("cell")).as("a")
      .join(cells.select(col("n_id"), col("n_vec"), col("cell")).as("b"),
        col("a.cell") === col("b.cell") && col("a.n_id") < col("b.n_id"))
      .withColumn("cos",
        graft.plans.GraftFunctions.cosineSim(col("a.n_vec"), col("b.n_vec")))
      .filter(col("cos") >= threshold)
      .select(col("a.n_id").as("id_a"), col("b.n_id").as("id_b"))
    keepersFromPairs(df, idCol, pairs)
  }

  /** 64-bit SimHash over word tokens: sign of the per-bit weighted sum of
    * xxhash64(token) bits. Duplicate tokens weigh by multiplicity.
    *
    * ONE aggregation straight off the exploded tokens: a document's
    * tokens are colocated (they come from one row), so map-side partial
    * aggregation collapses each doc to 64 longs before the exchange —
    * the shuffle carries docs × 65 longs. The tempting (id, tokenHash,
    * multiplicity) pre-aggregation shuffles the full token table (~one
    * row per distinct token occurrence) through an extra exchange and
    * measured 2.4× slower at sf0.1. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // same widen-if-narrow rationale as shingles: the tokenize+hash map
    // pass dominates and must not serialize on a one-split input
    val tok = graft.core.Tables.widenIfNarrow(df, idCol)
      .select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .select(col("id"), xxhash64(col("w")).as("h"))
    // Packed bit-counting: the signed ±1 bit-sum equals 2·ones(i) − n,
    // so only the ones-counts are aggregated — and since each count
    // fits in 16 bits for any document under 65,536 tokens, FOUR
    // counters ride in one long (bit i of group g at field i%4). That
    // is 16 plain integer-add aggregates instead of 64 conditional
    // sums: same map-side-combine shape (docs × 17 longs through the
    // exchange), ~4× less aggregation arithmetic per token. Documents
    // beyond 65,535 tokens would overflow a field — chunk upstream
    // (t11 chunking) or split the doc; a corpus doc that long is
    // degenerate for near-dup hashing anyway.
    val packedSums = (0 until 16).map { g =>
      sum((0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * g + j).bitwiseAND(1L), 16 * j)
      }.reduce(_ + _)).as(s"p_$g")
    }
    val agg = tok.groupBy("id")
      .agg(count(lit(1)).as("n"), packedSums: _*)
    val sim = (0 until 64).map { i =>
      val ones = shiftright(col(s"p_${i / 4}"), 16 * (i % 4))
        .bitwiseAND(0xFFFFL)
      // bit set ⇔ 2·ones − n > 0 — ties (exactly half the tokens) stay
      // 0, matching the signed-sum formulation exactly
      when(ones * 2 > col("n"), shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64 bits into 8×8-bit chunks
    * (pigeonhole: hamming ≤ 7 ⇒ at least one identical chunk), join on
    * chunks, verify hamming ≤ maxHamming via bit_count(xor).
    *
    * The signature table is persisted before the self-join: its two
    * sides cannot share a physical subtree (one side broadcasts, so
    * exchange reuse never fires) and the upstream signature aggregation
    * — a full corpus scan — would otherwise run twice. Signatures are
    * 16 bytes/doc; at any corpus size the cache is ~trivial next to
    * recomputing the scan. (Same policy as the shingle projection in
    * `minHashLshDedup`; the cache manager dedupes by plan.) */
  def simHashPairs(sig: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 7, "8-chunk banding only guarantees hamming <= 7")
    val sigP = sig.persist(StorageLevel.MEMORY_AND_DISK)
    val chunks = (0 until 8).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 8).bitwiseAND(0xFFL).as("ch")) }
    val exploded = sigP.select(col("id"), col("simhash"),
        explode(array(chunks: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ch").as("ch"))
    // distinct BEFORE computing hamming: a pair colliding in k chunks
    // surfaces k times (up to 8×) from the band join, and each copy
    // would otherwise pay the xor+bit_count. Dedup on the 16-byte
    // id/simhash tuple first, then score each surviving pair once —
    // simhashes ride along so the distinct needs no join-back.
    exploded.as("x").join(exploded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ch") === col("y.ch") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** URL canonicalization for crawl dedup — the key under which
    * re-crawls of one page collapse (CommonCrawl-lineage pipelines
    * dedup by URL before any content pass; RefinedWeb runs exactly
    * this normalize-then-keep-one step, Penedo et al. 2023
    * arXiv:2306.01116 §3.2). Pure regexp chain in the Java ∩ RE2
    * subset — codegen'd, map-side, zero exchange.
    *
    * Contract, in order (the canonical key is NOT a browsable URL —
    * it only needs to be deterministic and collision-meaningful):
    *   1. fragment dropped (`#…` never reaches the server);
    *   2. scheme dropped, http ≡ https (re-crawls flip protocols);
    *   3. host lowercased (DNS is case-insensitive — the PATH case
    *      is preserved, paths are case-significant), leading `www.`
    *      and explicit default ports `:80`/`:443` stripped;
    *   4. `utm_*` tracking params removed wherever they sit; a query
    *      left starting with `&` gets its first separator restored
    *      to `?`; a dangling trailing `?`/`&` dropped;
    *   5. one trailing `/` stripped — only when no query follows
    *      (`/a/?x=1` keeps its slash: it's not terminal).
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "(?i)^https?://", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(noScheme, "^([^/?#]+)", 1)),
      "^www\\.", ""), ":(80|443)$", "")
    val pathq = regexp_replace(noScheme, "^[^/?#]+", "")
    val noUtm = regexp_replace(pathq, "(?i)[?&]utm_[^&#]*", "")
    val fixedSep = regexp_replace(noUtm, "^([^?]*)&", "$1?")
    val noDangle = regexp_replace(fixedSep, "[?&]$", "")
    val noSlash = regexp_replace(noDangle, "^([^?]*)/$", "$1")
    concat(host, noSlash)
  }

  /** Latest-crawl-wins URL dedup: canonicalize, keep the newest
    * fetch per canonical URL (`tsCol` desc, `idCol` desc tie-break),
    * report the re-crawl count. The per-key window is NOT the
    * dominant-language shape the distributed rank exists for: a
    * group is ONE page's re-crawl history — bounded by fetch
    * frequency (tens), independent of corpus size — so the plain
    * hash-partitioned window is the right plan at 100 TB. (A
    * pathological constant URL is upstream garbage; the operator's
    * contract is crawl data, where the key is ~unique per page.) */
  def latestPerUrl(df: DataFrame, urlCol: String, tsCol: String,
                   idCol: String): DataFrame = {
    val canon = df.withColumn("canon_url", canonicalUrl(col(urlCol)))
    val w = Window.partitionBy(col("canon_url"))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    canon
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_crawls",
        count(lit(1)).over(Window.partitionBy(col("canon_url"))))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
