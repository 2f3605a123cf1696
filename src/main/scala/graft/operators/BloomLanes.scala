package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, when}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

/** The Bloom LANES in front of the fp store and the eval-gram store —
  * the one layout and the one filter builder both stores use.
  *
  * Lane i ∈ [0, k) of a store dir is its base filter `_bloom.s<i>.bin`
  * plus one `_bloom.s<i>.b<id>.bin` per appended batch. A key's lane is
  * pmod(key, k), computed from the key and never stored, so the store's
  * parquet tables stay flat at every k. Every filter of a lane is built
  * by [[build]] with the store's recorded per-lane capacity and fpp, so
  * a lane's filters are bit-compatible and merge by OR at probe time.
  * k lanes raise the serializable ceiling of one filter (~1e9 keys at
  * fpp 1e-3) k-fold; a task only ever holds one lane's filter.
  *
  * Write orderings every caller keeps: filters land BEFORE the keys'
  * parquet (bloom ⊇ keys at every instant — a stored key the filter
  * missed would probe negative and skip its verify), and a fold-time
  * re-size writes the meta first, the filters second and deletes the
  * batch files last ([[foldAfterCompaction]]). */
private[graft] object BloomLanes {

  /** The lane of a LongType Bloom key among `lanes`. The same key then
    * feeds its lane's filter — harmless, because a lane's filter only
    * ever answers for its own residue class, and within it the full
    * 64-bit key still spreads. */
  private def laneOf(key: Column, lanes: Int): Column =
    pmod(key, lit(lanes.toLong)).cast("int")

  /** Each lane's capacity for a store sized for `total` keys. */
  def perLane(total: Long, lanes: Int): Long =
    math.max(1L, (total + lanes - 1) / lanes)

  /** Optimal Bloom bit count ≈ -n·ln(p)/ln²2; 8·Int.MaxValue is the
    * serializable ceiling (byte-array length), reached near 1.19e9
    * keys at fpp 1e-3. */
  def bits(capacity: Long, fpp: Double): Double =
    math.ceil(-capacity * math.log(fpp) / (math.log(2) * math.log(2)))

  def fits(capacity: Long, fpp: Double): Boolean =
    bits(capacity, fpp) <= 8.0 * Int.MaxValue

  /** Capacity growth factor a fold-time re-size applies when a lane's
    * folded key count outgrew the installed sizing: room for one more
    * store doubling before the next fold must re-size again. */
  private val foldHeadroom = 2L

  private def file(dir: String, lane: Int, batchId: Long): String =
    if (batchId == 0L) s"$dir/_bloom.s$lane.bin"
    else s"$dir/_bloom.s$lane.b$batchId.bin"

  private val batchFile = "_bloom\\.s(\\d+)\\.b\\d+\\.bin".r

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (lane, file name) of every per-batch filter under `dir`. */
  private def batchFiles(spark: SparkSession, dir: String): Seq[(Int, String)] =
    hadoopFs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case n @ batchFile(lane) => lane.toInt -> n }

  private def delete(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach(n => hadoopFs(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), false))

  /** THE filter builder: `BloomFilter.create(capacity, fpp)` with every
    * key of the one-column LongType frame `keys` put in by one Spark
    * job. An empty frame yields the empty filter. Unlike
    * `stat.bloomFilter`, the size follows from (capacity, fpp) alone —
    * no session conf caps it — so every filter a lane ever gets is
    * bit-compatible with its base. */
  private def build(keys: DataFrame, capacity: Long, fpp: Double): BloomFilter =
    keys.as(Encoders.scalaLong).rdd.treeAggregate(BloomFilter.create(capacity, fpp))(
      (f, k) => { f.putLong(k); f }, (a, b) => a.mergeInPlace(b))

  /** Land one generation's filters: lane i gets the filter of the keys
    * (column `k`) in its residue class, under the base name when
    * `batchId` is 0 (every lane, an empty one as the empty filter) or
    * as the batch's own file otherwise (empty lanes skipped). Returns
    * whether any key landed, so an empty append can skip its parquet. */
  def land(spark: SparkSession, dir: String, keys: DataFrame, lanes: Int,
           capacity: Long, fpp: Double, batchId: Long): Boolean =
    (0 until lanes).map { i =>
      val f = build(keys.filter(laneOf(col("k"), lanes) === i).select("k"),
        capacity, fpp)
      val nonEmpty = f.cardinality() > 0
      if (batchId == 0L || nonEmpty)
        graft.sources.Sources.writeBinarySidecarFs(spark, file(dir, i, batchId),
          graft.functions.BloomMightContain.toBytes(f))
      nonEmpty
    }.contains(true)

  /** Lane `lane`'s filter as probes see it: the base OR'd with every
    * per-batch filter of the lane. */
  def merged(spark: SparkSession, dir: String, lane: Int): BloomFilter = {
    def read(name: String) = BloomFilter.readFrom(
      graft.sources.Sources.readBinarySidecarFs(spark, s"$dir/$name"))
    batchFiles(spark, dir).collect { case (`lane`, n) => n }
      .foldLeft(read(s"_bloom.s$lane.bin"))((f, n) => f.mergeInPlace(read(n)))
  }

  /** The store's membership probe, filters read once: lane i's merged
    * filter answers the keys of lane i. The plan carries every lane's
    * filter as a literal — lanes raise the per-array ceiling, not the
    * executor memory bill. The last lane is the default branch, so one
    * lane is the bare probe. */
  def probe(spark: SparkSession, dir: String, lanes: Int): Column => Column = {
    val bytes = (0 until lanes).map(i =>
      graft.functions.BloomMightContain.toBytes(merged(spark, dir, i)))
    key => {
      def lane(i: Int) =
        graft.plans.GraftFunctions.bloomMightContain(spark, key, bytes(i))
      (0 until lanes - 1).foldRight(lane(lanes - 1)) { (i, rest) =>
        when(laneOf(key, lanes) === i, lane(i)).otherwise(rest)
      }
    }
  }

  /** Fold every lane's per-batch filters into its base: merged bytes
    * first, batch-file deletes after, so a crash between leaves
    * harmless already-merged extras. Single-writer maintenance. */
  private def union(spark: SparkSession, dir: String): Unit =
    batchFiles(spark, dir).groupBy(_._1).foreach { case (lane, files) =>
      graft.sources.Sources.writeBinarySidecarFs(spark, file(dir, lane, 0L),
        graft.functions.BloomMightContain.toBytes(merged(spark, dir, lane)))
      delete(spark, dir, files.map(_._2))
    }

  /** The post-fold filter policy of both stores. No per-batch filter →
    * nothing to do (the idempotent maintenance visit). Unfolded
    * generations left (`onlyBase` false) → union, because their keys
    * live only in their own batch filters. Otherwise REBUILD every
    * lane from `foldedKeys` (the folded generation's distinct keys as
    * column `k`) with a per-lane capacity that grows to
    * hottest-lane×headroom only when a lane outgrew `installedTotal`:
    * the install-sized union saturates once appends outgrow it.
    *
    * WRITE ORDER is meta FIRST (`publishTotal` gets the new total),
    * filters second, batch-file deletes last. While the meta is ahead
    * of the filters the batch files are still on disk, so the fast
    * path cannot trap the store: a crash anywhere leaves either
    * mixed-capacity filters, whose merge fails LOUDLY at probe time,
    * or files the next call re-runs this rebuild over. bloom ⊇ keys
    * holds throughout. (Meta LAST had a real hole: a crash after the
    * deletes left new-capacity filters under an old-capacity meta, the
    * fast path returned forever, and the next append's filter broke
    * every probe's merge.) Past the serializable ceiling the saturated
    * union is kept (never a false negative) and `remedy` is printed
    * with the count. */
  def foldAfterCompaction(spark: SparkSession, dir: String, lanes: Int,
                          onlyBase: Boolean, foldedKeys: => DataFrame,
                          installedTotal: Long, fpp: Double,
                          publishTotal: Long => Unit, remedy: String): Unit = {
    if (batchFiles(spark, dir).isEmpty) return
    if (!onlyBase) { union(spark, dir); return }
    val keyed = foldedKeys.withColumn("lane", laneOf(col("k"), lanes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val hottest = keyed.groupBy("lane").count().collect()
        .map(_.getLong(1)).maxOption.getOrElse(0L)
      val installed = perLane(installedTotal, lanes)
      val capacity =
        if (hottest > installed) hottest * foldHeadroom else installed
      if (!fits(capacity, fpp)) {
        System.err.println(s"[graft] store $dir: the hottest Bloom lane " +
          s"holds $hottest folded keys — past the per-lane ceiling; " +
          s"keeping the saturated union; $remedy")
        union(spark, dir)
      } else {
        if (capacity != installed) publishTotal(capacity * lanes)
        land(spark, dir, keyed, lanes, capacity, fpp, batchId = 0L)
        delete(spark, dir, batchFiles(spark, dir).map(_._2))
      }
    } finally keyed.unpersist(blocking = false)
  }
}
