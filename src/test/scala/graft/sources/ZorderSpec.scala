package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class ZorderSpec extends SparkSpec {
  import spark.implicits._

  /** Mean per-file (max−min)/(globalMax−globalMin) for `c` — the
    * fraction of the column's domain a scan of one file must admit; the
    * expected fraction of files a point/range predicate on `c` CANNOT
    * prune via footer stats. 1.0 = every file spans the whole domain. */
  private def meanFileRangeFrac(dir: String, c: String): Double = {
    val df = spark.read.parquet(dir)
      .select(col(c).cast("double").as("v"), input_file_name().as("f"))
    val g = df.agg(max("v") - min("v")).as[Double].first()
    val perFile = df.groupBy("f").agg(((max("v") - min("v")) / g).as("frac"))
    perFile.agg(avg("frac")).as[Double].first()
  }

  test("range_bucket: upper-bound tie handling, equal-population buckets") {
    val bounds = Array(10.0, 20.0, 30.0)
    val out = Seq(5.0, 10.0, 15.0, 30.0, 31.0, Double.NaN)
      .toDF("v")
      .select(GraftFunctions.rangeBucket(spark, col("v"), bounds).as("b"))
      .as[Int].collect()
    // ties land UP (10.0 → bucket 1), NaN compares below everything
    assert(out.toSeq == Seq(0, 1, 1, 3, 3, 0))
    val l = Tables.lineitem(spark, sf)
    val bits = 4
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val cuts = l.select(col("l_partkey").cast("double").as("p"))
      .stat.approxQuantile("p", probs, 0.002)
    val counts = l.select(GraftFunctions.rangeBucket(
        spark, col("l_partkey").cast("double"), cuts).as("b"))
      .groupBy("b").count().as[(Int, Long)].collect().toMap
    val n = l.count().toDouble
    // quantile cut points ⇒ every bucket holds ≈ 1/16 of the rows
    assert(counts.size == (1 << bits))
    assert(counts.values.forall(c => c > n / 32 && c < n / 8),
      s"bucket populations must be near-uniform, got $counts")
  }

  test("zValue interleave: neighbors in both dims stay close in z") {
    // bit-exact morton check on a 2×8-bit grid
    val z = Sources.zValue(Seq(lit(0xAA), lit(0x55)), 8)
    val v = spark.range(1).select(z.as("z")).as[Long].first()
    // 0xAA = 10101010, 0x55 = 01010101 interleaved (col0 high) =
    // 1001100110011001 1001... pattern: bit j*2+1 from col0, j*2 from col1
    val expected = (0 until 8).map { j =>
      val b0 = (0xAA >> j) & 1; val b1 = (0x55 >> j) & 1
      (b0.toLong << (2 * j + 1)) | (b1.toLong << (2 * j))
    }.reduce(_ | _)
    assert(v == expected)
  }

  test("zorderWrite: content-transparent, bounded per-file ranges on BOTH columns") {
    val base = Files.createTempDirectory("zorder").toString
    val l = Tables.lineitem(spark, sf)
    val nFiles = 8

    // baseline layout: sorted by ONE column — perfect on that column,
    // helpless on the other
    l.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.parquet(s"$base/by_orderkey")
    val zn = Sources.zorderWrite(spark, l, Seq("l_orderkey", "l_partkey"),
      s"$base/z", nFiles)
    assert(zn > 1 && zn <= nFiles)

    // content transparency: same multiset of rows
    val a = l.groupBy("l_orderkey", "l_linenumber").count()
    val b = spark.read.parquet(s"$base/z").groupBy("l_orderkey", "l_linenumber").count()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    val sortOk = meanFileRangeFrac(s"$base/by_orderkey", "l_orderkey")
    val sortPk = meanFileRangeFrac(s"$base/by_orderkey", "l_partkey")
    val zOk = meanFileRangeFrac(s"$base/z", "l_orderkey")
    val zPk = meanFileRangeFrac(s"$base/z", "l_partkey")
    // the single-column sort leaves l_partkey unprunable (every file
    // spans ~the full domain); z-order must bound BOTH columns well
    // below that — 8 files over a 2-d grid ⇒ ~sqrt(1/8)≈0.35 per dim,
    // 0.7 leaves slack for bucket-edge noise
    assert(sortPk > 0.85, s"baseline should be unprunable on partkey: $sortPk")
    assert(zOk < 0.7, s"z layout must bound l_orderkey ranges: $zOk")
    assert(zPk < 0.7, s"z layout must bound l_partkey ranges: $zPk")
    // and the z layout gives up SOME single-column sharpness vs the
    // dedicated sort — that's the documented trade, not a bug
    assert(zOk > sortOk)
  }

  test("zorderWrite rejects degenerate configs loudly") {
    val base = Files.createTempDirectory("zorderbad").toString
    val l = Tables.lineitem(spark, sf).limit(10)
    intercept[IllegalArgumentException](
      Sources.zorderWrite(spark, l, Seq("l_orderkey"), s"$base/one", 2))
    intercept[IllegalArgumentException](
      Sources.zorderWrite(spark, l, Seq("l_orderkey", "l_partkey"),
        s"$base/bits", 2, bitsPerCol = 32))
  }
}
