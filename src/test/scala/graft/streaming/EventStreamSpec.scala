package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class EventStreamSpec extends SparkSpec {
  import spark.implicits._
  import EventStream._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumblingCounts aggregates a real stream by event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = tumblingCounts(df, "7 days", "7 days")
      .writeStream.format("memory").queryName("tumble")
      .outputMode(OutputMode.Update).start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), "click", 1.0),
      (ts("2024-01-02 10:00:00"), "click", 2.0),
      (ts("2024-01-09 10:00:00"), "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("tumble")
      .select("win_start", "n", "sum_value").as[(Timestamp, Long, Double)]
      .collect().sortBy(_._1.getTime)
    q.stop()
    assert(rows.length == 2)          // two distinct 7-day windows
    assert(rows(0)._2 == 2 && rows(0)._3 == 3.0)
    assert(rows(1)._2 == 1 && rows(1)._3 == 4.0)
  }

  test("statefulUserTotals accumulates across micro-batches and alerts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = statefulUserTotals(mem.toDS(), alertAt = 5.0)
      .writeStream.format("memory").queryName("stateful")
      .outputMode(OutputMode.Update).start()
    mem.addData(EventRow(1L, ts("2024-01-01 00:00:00"), 2.0))
    q.processAllAvailable()
    mem.addData(EventRow(1L, ts("2024-01-01 01:00:00"), 4.0))
    q.processAllAvailable()
    val rows = spark.table("stateful").as[UserUpdate].collect().sortBy(_.count)
    q.stop()
    assert(rows.length == 2)
    assert(!rows(0).alert && rows(0).total == 2.0)
    assert(rows(1).alert && rows(1).total == 6.0 && rows(1).count == 2)
  }

  test("file source + Trigger.AvailableNow processes a landed week then stops") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("filesrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    spark.range(100)
      .select(
        timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
        (col("id") % 3).cast("string").as("event_type"),
        (col("id") % 7).cast("double").as("value"))
      .write.parquet(s"$dir/week1")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).parquet(s"$dir/week1")
    val q = EventStream.tumblingCounts(stream, "7 days", "7 days")
      .writeStream.format("memory").queryName("filesrc_tumble")
      .option("checkpointLocation", ckpt)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)  // AvailableNow terminates after draining
    val total = spark.table("filesrc_tumble").agg(sum("n")).as[Long].first()
    assert(total == 100)
  }

  test("streaming window agg over the real events table equals its batch twin") {
    import org.apache.spark.sql.streaming.Trigger
    // the stream schema comes from a batch read of the SAME file, and
    // the ts normalization is Tables.normalizeTs — the one routing rule
    // both sides share, so a testdata regeneration (nanos-as-long vs
    // plain micros, which DID flip between rounds) can't desync the
    // streaming twin from the batch query it is compared against
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    // the file stream source requires a DIRECTORY; stage the single file
    val stageDir = java.nio.file.Files.createTempDirectory("events_stage")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      stageDir.resolve("events.parquet"))
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(stageDir.toString))
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_eq").toString
    val q = EventStream.tumblingCounts(stream, "7 days", "7 days")
      .writeStream.format("memory").queryName("stream_eq")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_eq")
      .groupBy("win_start", "event_type")
      .agg(max("n").as("n")) // Update mode emits per-batch updates; last wins
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.queries.Events.t1TumblingWindow(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.map { case ((w, t), n) =>
      (new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
        .format(w), t) -> n }.toMap == batch)
  }

  test("stream-static join enriches a live stream with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val joined = mem.toDF().toDF("ts", "user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = joined.writeStream.format("memory").queryName("streamdim")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, 5.0),
      (ts("2024-01-01 10:01:00"), 3L, 7.0)) // no dim row -> tier null
    q.processAllAvailable()
    val rows = spark.table("streamdim")
      .select("user_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(rows(1L).contains("gold") && rows(3L).isEmpty)
  }

  test("streaming dedup within watermark drops late duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "doc_id")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
    val q = df.writeStream.format("memory").queryName("streamdedup")
      .outputMode(OutputMode.Append).start()
    mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:05:00"), 1L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:10:00"), 1L), (ts("2024-01-01 10:10:00"), 2L))
    q.processAllAvailable()
    val ids = spark.table("streamdedup").select("doc_id").as[Long].collect().sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L)) // id 1 deduped across micro-batches
  }

  test("psiDriftMonitor flags the drifted window, passes the stable one") {
    implicit val sqlCtx = spark.sqlContext
    // baseline: uniform over 4 buckets split at 0.25/0.5/0.75
    val breaks = Seq(0.25, 0.5, 0.75)
    val expected = Seq(0.25, 0.25, 0.25, 0.25)
    val mem = MemoryStream[(Timestamp, Double)]
    val q = psiDriftMonitor(mem.toDF().toDF("ts", "score"),
        breaks, expected, windowLen = "1 day", watermark = "1 day",
        threshold = 0.2)
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Update).start()
    // day 1: matches the baseline (one score per bucket)
    mem.addData(Seq(0.1, 0.3, 0.6, 0.9).map(v => (ts("2024-01-01 10:00:00"), v)): _*)
    // day 2: everything collapses into the top bucket — heavy drift
    mem.addData(Seq(0.8, 0.85, 0.9, 0.95).map(v => (ts("2024-01-02 10:00:00"), v)): _*)
    q.processAllAvailable()
    val rows = spark.table("drift")
      .select("win_start", "psi", "retrain")
      .as[(Timestamp, Double, Boolean)].collect().sortBy(_._1.getTime)
    q.stop()
    assert(rows.length == 2)
    assert(!rows(0)._3 && rows(0)._2 < 0.05, s"stable window flagged: ${rows(0)}")
    assert(rows(1)._3 && rows(1)._2 > 0.5, s"drifted window missed: ${rows(1)}")
  }

  test("streamingExactDedup keeps first doc per content fingerprint (d1 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = streamingExactDedup(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "doc_id")
    val q = out.writeStream.format("memory").queryName("streamd1")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "Hello  World"),
      (ts("2024-01-01 10:01:00"), 2L, "hello world"), // same normalized content
      (ts("2024-01-01 10:02:00"), 3L, "other text"),
      // min-id election, NOT arrival order: 7 arrives before 6 within
      // the batch, the deterministic keeper is 6
      (ts("2024-01-01 10:03:00"), 7L, "fresh content"),
      (ts("2024-01-01 10:04:00"), 6L, "FRESH  content"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 10:30:00"), 4L, "HELLO WORLD ")) // still in watermark
    q.processAllAvailable()
    val ids = spark.table("streamd1").select("doc_id").as[Long].collect().sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 3L, 6L))
    // the fingerprint helper column does not leak into the output
    assert(!spark.table("streamd1").columns.contains("_fp"))
  }

  test("gopherRules gates a live stream (native kernel inside a streaming plan)") {
    // gopherRules is a pure per-row projection, so it composes into any
    // readStream pipeline unchanged; this pins that the native
    // WordGramCoverage expression evaluates inside a streaming plan and
    // that the keep flag filters micro-batch rows like its batch twin
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val gated = graft.operators.TextAnalysis.gopherRules(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        requiredStopwords = Seq("the", "a"))
      .filter($"keep" === 1).select("doc_id")
    val q = gated.writeStream.format("memory").queryName("streamt20")
      .outputMode(OutputMode.Append).start()
    val clean = "the a " + (1 to 58).map(i => s"word$i").mkString(" ")
    mem.addData(
      (1L, clean),           // passes every rule
      (2L, "a a a b"),       // too short, degenerate words
      (3L, ("the a " + Seq.fill(60)("spam").mkString(" ")))) // top-gram mass
    q.processAllAvailable()
    val kept = spark.table("streamt20").as[Long].collect().sorted
    q.stop()
    assert(kept.toSeq == Seq(1L), s"kept $kept")
  }

  test("checkpointed restart resumes exactly-once: old files are not reprocessed") {
    // the real incremental contract: a stopped pipeline restarted from
    // its checkpoint picks up ONLY newly-landed files — reprocessing
    // week1 would double-count, missing week2 would under-count
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("restartsrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("restartckpt").toString
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def land(offset: Long, n: Long, sub: String): Unit =
      spark.range(n)
        .select(
          timestamp_seconds(lit(1704067200L) + (col("id") + offset) * 3600).as("ts"),
          (col("id") % 3).cast("string").as("event_type"),
          lit(1.0).as("value"))
        .write.parquet(s"$dir/$sub")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$dir/*")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("restart_counts")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    land(0, 60, "week1")
    runOnce()
    assert(spark.table("restart_counts").agg(sum("n")).as[Long].first() == 60)
    land(60, 40, "week2")
    runOnce() // restart from the SAME checkpoint
    val total = spark.table("restart_counts").agg(sum("n")).as[Long].first()
    assert(total == 100, s"restart must add week2 exactly once, got $total")
  }

  test("streamingNearDupIngest drops dups against the growing store") {
    implicit val sqlCtx = spark.sqlContext
    def doc(words: String*): String = words.mkString(" ")
    // 20-token bases with disjoint vocabularies; a 1-word edit keeps
    // 3-gram jaccard at 17/19 ≈ 0.89 — above the 0.8 threshold
    val baseA = doc((1 to 20).map(i => s"a$i"): _*)
    val baseB = doc((1 to 20).map(i => s"b$i"): _*)
    val baseC = doc((1 to 20).map(i => s"c$i"): _*)
    val baseD = doc((1 to 20).map(i => s"d$i"): _*)
    def variant(base: String): String =
      base.split(" ").dropRight(1).mkString(" ") + " zz"
    val tmp = java.nio.file.Files.createTempDirectory("ndstream").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    graft.operators.Dedup.writeNearDupStore(
      Seq((100L, baseA)).toDF("doc_id", "text"), "doc_id", "text", storeDir)
    val mem = MemoryStream[(Long, String)]
    val q = streamingNearDupIngest(
        mem.toDF().toDF("doc_id", "text"), storeDir, keptDir, "doc_id", "text")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    // batch 1: doc 1 near-dups the LANDED corpus (dropped); docs 3/4
    // near-dup EACH OTHER (smaller id kept); doc 2 is clean
    mem.addData((1L, variant(baseA)), (2L, baseB), (3L, baseC), (4L, variant(baseC)))
    q.processAllAvailable()
    // batch 2: doc 5 near-dups batch-1 SURVIVOR 2 — only the grown
    // store can know that; doc 6 is clean
    mem.addData((5L, variant(baseB)), (6L, baseD))
    q.processAllAvailable()
    q.stop()
    // the cleaned corpus is manifest-committed — read the published view
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 6L),
      s"survivors should be {2, 3, 6}, got $kept")
    assert(graft.sources.Sources.publishedBatches(spark, keptDir) == Seq(1L, 2L))
    // the store grew by exactly the survivors
    val storeIds = spark.read.parquet(s"$storeDir/signatures")
      .select("id").distinct().as[Long].collect().toSet
    assert(storeIds == Set(100L, 2L, 3L, 6L))
  }

  test("streamingNearDupIngest in-loop compaction folds committed " +
       "generations without changing answers") {
    implicit val sqlCtx = spark.sqlContext
    def doc(ws: String*): String = ws.mkString(" ")
    val baseA = doc((1 to 20).map(i => s"ka$i"): _*)
    val baseB = doc((1 to 20).map(i => s"kb$i"): _*)
    val baseC = doc((1 to 20).map(i => s"kc$i"): _*)
    def variant(b: String): String =
      b.split(" ").dropRight(1).mkString(" ") + " zz"
    val tmp = java.nio.file.Files.createTempDirectory("ndcompactloop").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    graft.operators.Dedup.writeNearDupStore(
      Seq((100L, baseA)).toDF("doc_id", "text"), "doc_id", "text", storeDir)
    val mem = MemoryStream[(Long, String)]
    val q = streamingNearDupIngest(
        mem.toDF().toDF("doc_id", "text"), storeDir, keptDir,
        "doc_id", "text", compactStoreEvery = 2)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    mem.addData((1L, baseB)); q.processAllAvailable()       // trigger 0
    mem.addData((2L, baseC)); q.processAllAvailable()       // trigger 1
    // trigger 2 compacts gens ≤ 2 first (install + triggers 0–1, all
    // committed), THEN processes: doc 3 near-dups survivor 1 — the
    // FOLDED store must still know it
    mem.addData((3L, variant(baseB)), (4L, doc((1 to 20).map(i => s"kd$i"): _*)))
    q.processAllAvailable()
    q.stop()
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L), s"survivors should be {1, 2, 4}: $kept")
    val gens = new java.io.File(s"$storeDir/signatures").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    // gens 0/1/2 folded at trigger 2; trigger 2's own gen (3) landed after
    assert(gens == Set("batch=0", "batch=3"),
      s"triggers 0-1 must be folded, trigger 2's generation kept: $gens")
    val storeIds = spark.read.parquet(s"$storeDir/signatures")
      .select("id").distinct().as[Long].collect().toSet
    assert(storeIds == Set(100L, 1L, 2L, 4L),
      s"fold must lose no store rows: $storeIds")
  }

  test("replayed batch does not erase its published rows or store rows") {
    // Simulates the crash-after-side-effects-before-checkpoint-commit
    // window: run a batch to completion, then replay the SAME data as
    // the SAME batchId (fresh checkpoint, same dirs). On the replay,
    // the stores already hold the batch's fingerprints, so the
    // recomputed kept set is empty — without the manifest replay guard
    // the loop would overwrite the published batch (and, in the
    // near-dup loop, its batch-keyed store dirs) with empty frames.
    implicit val sqlCtx = spark.sqlContext
    // exact loop
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("fpreplay").toString
      val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
      graft.operators.Dedup.writeFpStore(
        Seq((100L, "landed doc")).toDF("doc_id", "text"),
        "doc_id", "text", storeDir, expectedTotalFps = 10000L)
      def runOnce(ckpt: String): Unit = {
        val mem = MemoryStream[(Long, String)]
        val q = streamingExactDedupIngest(
            mem.toDF().toDF("doc_id", "text"), storeDir, keptDir,
            "doc_id", "text")
          .option("checkpointLocation", ckpt).start()
        mem.addData((1L, "alpha"), (2L, "beta"))
        q.processAllAvailable()
        q.stop()
      }
      runOnce(s"$tmp/ckpt1")
      runOnce(s"$tmp/ckpt2") // the replay
      val kept = graft.sources.Sources.readPublished(spark, keptDir)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L),
        s"replay must not erase published rows, got $kept")
      assert(spark.read.parquet(s"$storeDir/fps").distinct().count() == 3,
        "fp store must hold landed + both survivors after the replay")
    }
    // near-dup loop: the store append is batch-keyed OVERWRITE, so an
    // unguarded replay would also blank the batch's shingles/signatures
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("ndreplay").toString
      val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
      val baseA = (1 to 20).map(i => s"a$i").mkString(" ")
      val baseB = (1 to 20).map(i => s"b$i").mkString(" ")
      graft.operators.Dedup.writeNearDupStore(
        Seq((100L, baseA)).toDF("doc_id", "text"), "doc_id", "text", storeDir)
      def runOnce(ckpt: String): Unit = {
        val mem = MemoryStream[(Long, String)]
        val q = streamingNearDupIngest(
            mem.toDF().toDF("doc_id", "text"), storeDir, keptDir,
            "doc_id", "text")
          .option("checkpointLocation", ckpt).start()
        mem.addData((2L, baseB))
        q.processAllAvailable()
        q.stop()
      }
      runOnce(s"$tmp/ckpt1")
      runOnce(s"$tmp/ckpt2") // the replay
      val kept = graft.sources.Sources.readPublished(spark, keptDir)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(2L), s"replay must not erase published rows, got $kept")
      val storeIds = spark.read.parquet(s"$storeDir/signatures")
        .select("id").distinct().as[Long].collect().toSet
      assert(storeIds == Set(100L, 2L),
        s"replay must not blank the batch's store rows, got $storeIds")
    }
  }

  /** Jobs started by each trigger of the near-dup loop, keyed by
    * (batch id, step): the loop's step label, or "unlabelled" for a job
    * that carries only the stream's own batch description. A marker job
    * run after the stream stops flushes the asynchronous listener bus:
    * events arrive in order, so once the marker's start is seen every
    * trigger job has been counted. */
  private def jobsPerStep(run: => Unit): Map[(Long, String), Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val label = "near-dup ingest batch (\\d+): (\\w+)".r
    val streamBatch = "(?s).*\\nbatch = (\\d+)".r
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      val marker = s"jobsPerStep marker ${System.nanoTime()}"
      spark.sparkContext.setJobDescription(marker)
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.collect {
      case label(b, s) => (b.toLong, s)
      case streamBatch(b) => (b.toLong, "unlabelled")
    }
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  test("streamingNearDupIngest: a plain trigger runs within its job budget, " +
       "every job labelled by step") {
    implicit val sqlCtx = spark.sqlContext
    def doc(p: String): String = (1 to 20).map(i => s"$p$i").mkString(" ")
    def variant(b: String): String = b.split(" ").dropRight(1).mkString(" ") + " zz"
    val tmp = java.nio.file.Files.createTempDirectory("ndbudget").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    graft.operators.Dedup.writeNearDupStore(
      Seq((100L, doc("ja")), (101L, doc("jb"))).toDF("doc_id", "text"),
      "doc_id", "text", storeDir)
    val mem = MemoryStream[(Long, String)]
    val q = streamingNearDupIngest(mem.toDF().toDF("doc_id", "text"),
        storeDir, keptDir, "doc_id", "text", compactStoreEvery = 2)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    // every trigger holds a store dup, a within-batch pair and a novel
    // doc, so every probe branch runs; trigger 2 folds first
    val batches = Seq(
      Seq((1L, variant(doc("ja"))), (2L, doc("jc")), (3L, variant(doc("jc"))), (4L, doc("jd"))),
      Seq((5L, variant(doc("jb"))), (6L, doc("je")), (7L, variant(doc("je"))), (8L, doc("jf"))),
      Seq((9L, variant(doc("jd"))), (10L, doc("jg")), (11L, variant(doc("jg"))), (12L, doc("jh"))))
    val perStep = jobsPerStep {
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L, 8L, 10L, 12L), s"survivors: $kept")
    def total(b: Long) = perStep.collect { case ((`b`, _), n) => n }.sum
    val table = perStep.toSeq.sorted.map { case ((b, s), n) => s"$b/$s=$n" }
    info(s"jobs per (batch, step): ${table.mkString(", ")}")
    Seq(0L, 1L).foreach { b =>
      assert(total(b) <= 15, s"plain trigger $b ran ${total(b)} jobs: $table")
      assert(perStep.getOrElse((b, "fold"), 0) == 0, s"plain trigger $b folded")
    }
    assert(perStep.getOrElse((2L, "fold"), 0) > 0, s"trigger 2 must fold: $table")
    assert(Seq("sign", "probe", "publish", "append")
      .forall(s => perStep.contains((1L, s))), s"missing steps: $table")
    assert(!perStep.keys.exists(_._2 == "unlabelled"), s"unlabelled jobs: $table")
  }

  test("streamingNearDupIngest: String ids and short docs match the Long-id twin") {
    implicit val sqlCtx = spark.sqlContext
    def doc(p: String): String = (1 to 20).map(i => s"$p$i").mkString(" ")
    def variant(b: String): String = b.split(" ").dropRight(1).mkString(" ") + " zz"
    // install, two plain triggers, a fold trigger (compactStoreEvery 2);
    // trigger 1 holds a doc shorter than the 3-token shingle and an
    // empty one: both publish and land no store rows
    val base = Seq((100L, doc("sa")), (101L, doc("sb")))
    val batches = Seq(
      Seq((1L, variant(doc("sa"))), (2L, doc("sc")), (3L, variant(doc("sc")))),
      Seq((4L, "two words"), (5L, ""), (6L, variant(doc("sb"))), (7L, doc("sd"))),
      Seq((8L, variant(doc("sd"))), (9L, doc("se")), (10L, variant(doc("se")))))
    def run(idOf: org.apache.spark.sql.Column): (Set[String], Set[String]) = {
      val tmp = java.nio.file.Files.createTempDirectory("ndids").toString
      val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
      graft.operators.Dedup.writeNearDupStore(
        base.toDF("n", "text").select(idOf.as("doc_id"), col("text")),
        "doc_id", "text", storeDir)
      val mem = MemoryStream[(Long, String)]
      val q = streamingNearDupIngest(
          mem.toDF().toDF("n", "text").select(idOf.as("doc_id"), col("text")),
          storeDir, keptDir, "doc_id", "text", compactStoreEvery = 2)
        .option("checkpointLocation", s"$tmp/ckpt").start()
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      def ids(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(col(c).cast("string")).distinct().as[String].collect().toSet
      (ids(graft.sources.Sources.readPublished(spark, keptDir), "doc_id"),
        ids(spark.read.parquet(s"$storeDir/signatures"), "id") ++
          ids(spark.read.parquet(s"$storeDir/shingles"), "id"))
    }
    val (keptL, storeL) = run(col("n"))
    // zero-padded, so string order is the Long twin's id order and the
    // within-batch keeper (smallest id) is the same doc
    val (keptS, storeS) = run(format_string("d%03d", col("n")))
    def asLong(s: Set[String]) = s.map(_.stripPrefix("d").toLong)
    assert(keptL.map(_.toLong) == Set(2L, 4L, 5L, 7L, 9L), s"Long survivors: $keptL")
    assert(asLong(keptS) == keptL.map(_.toLong), s"String survivors: $keptS")
    assert(storeL.map(_.toLong) == Set(100L, 101L, 2L, 7L, 9L),
      s"short and empty docs must land no store rows: $storeL")
    assert(asLong(storeS) == storeL.map(_.toLong), s"String store ids: $storeS")
  }

  test("streamingExactDedupIngest drops exact dups against the growing fp store") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("fpstream").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    graft.operators.Dedup.writeFpStore(
      Seq((100L, "landed doc")).toDF("doc_id", "text"),
      "doc_id", "text", storeDir, expectedTotalFps = 10000L)
    val mem = MemoryStream[(Long, String)]
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val q = streamingExactDedupIngest(
        mem.toDF().toDF("doc_id", "text"), storeDir, keptDir, "doc_id", "text")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    // batch 1: doc 1 dups the LANDED corpus after normalization
    // (dropped); 3/4 dup each other (smaller id kept); 2 is fresh
    mem.addData((1L, "Landed  DOC"), (2L, "fresh one"),
      (3L, "same text"), (4L, "SAME  text"))
    q.processAllAvailable()
    // batch 2: doc 5 dups batch-1 SURVIVOR 2 — only the grown store
    // knows; doc 6 is fresh
    mem.addData((5L, "FRESH one"), (6L, "brand new"))
    q.processAllAvailable()
    q.stop()
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 6L), s"survivors should be {2, 3, 6}, got $kept")
    // the store grew by exactly the survivors' fps, and the bloom
    // covers them (bloom ⊇ fps after every batch)
    val fps = spark.read.parquet(s"$storeDir/fps")
    assert(fps.distinct().count() == 4) // landed + 3 survivors
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      graft.operators.Dedup.mergedBloomBytes(spark, storeDir, None))
    val keys = fps.select(xxhash64($"fp")).as[Long].collect()
    assert(keys.forall(bloom.mightContainLong))
    // no per-batch cache leak: the loop must release what it created
    // (other suites share this session, so compare against the baseline)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(preexisting),
      "micro-batch caches must not accumulate")
  }

  test("streamingExactDedupIngest with in-loop compaction keeps the corpus intact") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("fpcompact").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    graft.operators.Dedup.writeFpStore(
      Seq((100L, "landed doc")).toDF("doc_id", "text"),
      "doc_id", "text", storeDir, expectedTotalFps = 10000L)
    val mem = MemoryStream[(Long, String)]
    // compact every 2 batches: after batch 2 the two published batches
    // fold into ONE maintenance-range batch + vacuum GC
    val q = streamingExactDedupIngest(
        mem.toDF().toDF("doc_id", "text"), storeDir, keptDir, "doc_id",
        "text", compactEvery = 2, targetFileBytes = 1L << 30)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    mem.addData((1L, "alpha"), (2L, "beta"))
    q.processAllAvailable()
    mem.addData((3L, "gamma"), (4L, "alpha")) // 4 dups 1 via the store
    q.processAllAvailable()
    // compaction ran at batch 2: live = one maintenance-range batch
    val live1 = graft.sources.Sources.publishedBatches(spark, keptDir)
    assert(live1.length == 1 && live1.head >= 1000000000000L,
      s"expected one maintenance-range batch, got $live1")
    mem.addData((5L, "delta"))
    q.processAllAvailable()
    q.stop()
    // stream continued publishing AFTER the flip: compacted + batch 3,
    // and the ingest counter can never collide with the maintenance id
    val live2 = graft.sources.Sources.publishedBatches(spark, keptDir)
    assert(live2.length == 2, s"compacted + post-flip batch, got $live2")
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L),
      s"content must survive the in-loop flip intact, got $kept")
  }

  test("streamingBoilerplateIngest strips chrome once cumulative counts elect it") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("boilstream").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    // base install from an empty corpus: the stream owns all counts
    graft.operators.Dedup.writeBoilerplateStore(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"),
      "doc_id", "text", "source", storeDir, n = 5)
    val mem = MemoryStream[(Long, String, String)]
    val q = streamingBoilerplateIngest(
        mem.toDF().toDF("doc_id", "source", "text"), storeDir, keptDir,
        "doc_id", "text", "source", minDocs = 3)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    // batch 1: the phrase appears in TWO siteA docs — below minDocs,
    // published untouched
    mem.addData(
      (1L, "siteA", "cookie banner click accept now article one text"),
      (2L, "siteA", "cookie banner click accept now another story here"))
    q.processAllAvailable()
    // batch 2: a third siteA doc pushes the cumulative df to 3 — THIS
    // batch is stripped; batch 1 stays as published (single-pass)
    mem.addData(
      (3L, "siteA", "cookie banner click accept now third piece content"),
      (4L, "siteB", "cookie banner click accept now stays content here"))
    q.processAllAvailable()
    q.stop()
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(kept(0)._2 == 8L && kept(1)._2 == 8L,
      s"batch-1 docs pre-threshold stay whole, got ${kept.toSeq}")
    assert(kept(2) == ((3L, 3L, "third piece content")),
      s"cumulative election must strip the batch-2 siteA doc, got ${kept(2)}")
    assert(kept(3)._2 == 8L, "siteB df=1 stays content")
  }

  test("streamingDecontamIngest: streamed ≡ batch rewrite, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("decontamstream").toString
    val (storeDir, keptDir) = (s"$tmp/store", s"$tmp/kept")
    // the frozen benchmark suite, published once
    val evalSet = Seq(
      (100L, "x quick brown fox jumps over y"),
      (101L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    graft.operators.Dedup.writeEvalGramStore(evalSet, "text", storeDir, n = 5)
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "clean document with no leaked content at all"))
    val b2 = Seq(
      (12L, "alpha beta gamma delta epsilon zeta"),
      (13L, "tiny doc"))
    def runOnce(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = streamingDecontamIngest(
          mem.toDF().toDF("doc_id", "text"), storeDir, keptDir,
          "doc_id", "text")
        .option("checkpointLocation", ckpt).start()
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
    }
    runOnce(s"$tmp/ckpt1")
    // streamed ≡ the direct batch rewrite over the union — the pinned
    // store-equals-live contract, through the streaming loop
    val direct = graft.operators.Dedup.decontaminateRewrite(
      (b1 ++ b2).toDF("doc_id", "text"), evalSet, "doc_id", "text", n = 5)
    val streamed = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
    assert(direct.except(streamed).count() == 0 &&
      streamed.except(direct).count() == 0,
      "two-batch streamed output must equal the batch rewrite")
    // full replay (fresh checkpoint, same dirs): the eval store is
    // read-only to this loop, so the recomputation is identical and the
    // batch-keyed publish re-delivers exactly-once — nothing doubles
    runOnce(s"$tmp/ckpt2")
    val replayed = graft.sources.Sources.readPublished(spark, keptDir)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
    assert(direct.except(replayed).count() == 0 &&
      replayed.except(direct).count() == 0,
      "replay must be idempotent — same rows, no duplicates")
    // the drop arm: doc 12 is wholly eval material (n_kept = 0) and
    // doc 10 keeps 4/9 < 0.5 — both dropped whole instead of published
    // as stubs
    val keptDir2 = s"$tmp/kept2"
    val mem2 = MemoryStream[(Long, String)]
    val q2 = streamingDecontamIngest(
        mem2.toDF().toDF("doc_id", "text"), storeDir, keptDir2,
        "doc_id", "text", minKeptFrac = 0.5)
      .option("checkpointLocation", s"$tmp/ckpt3").start()
    mem2.addData((b1 ++ b2): _*)
    q2.processAllAvailable()
    q2.stop()
    val thin = graft.sources.Sources.readPublished(spark, keptDir2)
      .select("doc_id").as[Long].collect().toSet
    assert(thin == Set(11L, 13L),
      s"minKeptFrac must drop eval-wrapper docs whole, got $thin")
  }

  test("streamingLmScoreIngest: streamed scores ≡ batch store scores; threshold drops") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lmstream").toString
    val (storeDir, outDir) = (s"$tmp/lm", s"$tmp/out")
    // frozen target-domain model (the CCNet Wikipedia role)
    val target = Seq((100L, "the cat sat on the mat"),
      (101L, "the cat ran to the mat")).toDF("doc_id", "text")
    graft.operators.TextAnalysis.writeBigramLmStore(target, "text", storeDir)
    val b1 = Seq((1L, "the cat sat on the mat"), (2L, "zq xw vv kk pp qq"))
    val b2 = Seq((3L, "the cat ran to the mat"), (4L, "short"))
    val mem = MemoryStream[(Long, String)]
    val q = streamingLmScoreIngest(
        mem.toDF().toDF("doc_id", "text"), storeDir, outDir, "doc_id", "text")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val direct = graft.operators.TextAnalysis.bigramLogProbFromStore(
      (b1 ++ b2).toDF("doc_id", "text"), storeDir, "doc_id", "text")
    val streamed = graft.sources.Sources.readPublished(spark, outDir)
      .select("id", "n_bigrams", "avg_logp")
    assert(direct.except(streamed).count() == 0 &&
      streamed.except(direct).count() == 0,
      "streamed scoring must equal the batch store path")
    // the drop arm: junk (doc 2) scores far below target-like docs and
    // the bigram-less doc 4 has no LM evidence — both dropped
    val cut = direct.filter($"id" === 1L).select("avg_logp")
      .as[Double].collect().head - 1e-6
    val out2 = s"$tmp/out2"
    val mem2 = MemoryStream[(Long, String)]
    val q2 = streamingLmScoreIngest(
        mem2.toDF().toDF("doc_id", "text"), storeDir, out2, "doc_id", "text",
        minAvgLogProb = cut)
      .option("checkpointLocation", s"$tmp/ckpt2").start()
    mem2.addData((b1 ++ b2): _*)
    q2.processAllAvailable()
    q2.stop()
    val kept = graft.sources.Sources.readPublished(spark, out2)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(4L),
      s"threshold must keep target-like docs only, got $kept")
  }

  test("streamingIvfIngest grows the at-rest index batch by batch") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val idx = s"$tmp/index"
    val e = graft.core.Tables.embeddings(spark, sf)
    val base = e.filter($"vec_id" < 40)
    graft.operators.Similarity.writeIvfIndex(base, idx, nCells = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = streamingIvfIngest(
        mem.toDF().toDF("vec_id", "embedding"), idx)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    def rows(lo: Long, hi: Long) = e.filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    mem.addData(rows(40, 45): _*)
    q.processAllAvailable()
    mem.addData(rows(45, 48): _*)
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(s"$idx/cells")
      .select("n_id").as[Long].collect().toSet
    assert(ids == (0L until 48L).toSet, "index must cover base + both batches")
    // each micro-batch landed under its own batch key (0 = base install)
    val batches = new java.io.File(s"$idx/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batches == Set("batch=0", "batch=1", "batch=2"))
  }

  test("streamingPqIngest encodes micro-batches against the stored codebooks") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("pqstream").toString
    val idx = s"$tmp/index"
    val e = graft.core.Tables.embeddings(spark, sf)
    val base = e.filter($"vec_id" < 40)
    val cb = graft.operators.Similarity.writePqIndex(base, idx, dim = 64,
      m = 8, k = 8)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = streamingPqIngest(
        mem.toDF().toDF("vec_id", "embedding"), idx)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    def rows(lo: Long, hi: Long) = e.filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    mem.addData(rows(40, 45): _*)
    q.processAllAvailable()
    mem.addData(rows(45, 48): _*)
    q.processAllAvailable()
    q.stop()
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.select("n_id").as[Long].collect().toSet == (0L until 48L).toSet)
    val batches = new java.io.File(s"$idx/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batches == Set("batch=0", "batch=1", "batch=2"))
    // streamed codes are bit-identical to a batch encode against the
    // SAME stored codebooks (codes never drift under fixed codebooks)
    val streamed = codes.filter($"n_id" >= 40)
      .select("n_id", "code").collect().map(_.toString).sorted.toSeq
    val direct = graft.operators.Similarity.pqEncode(
        e.filter($"vec_id" >= 40 && $"vec_id" < 48), cb)
      .select("n_id", "code").collect().map(_.toString).sorted.toSeq
    assert(streamed == direct)
  }

  test("streamingIndexMaintenance: CDC stream keeps the index serving the current corpus") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("idxmaint").toString
    val idx = s"$tmp/index"
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), transform(sequence(lit(0), lit(7)),
        i => (pmod(xxhash64(concat(col("text"), i)), lit(97)) / lit(97.0))
          .cast("float")).as("embedding"))
    def body(i: Long) = s"maintained document $i body"
    val initial = (1L to 30L).map(i => (i, body(i))).toDF("doc_id", "text")
    graft.operators.Similarity.writeIvfIndex(embed(initial), idx,
      nCells = 4, idCol = "doc_id")
    // batch 1: add 31–33, edit 5, drop 1–2; batch 2: drop the just-added
    // 31, edit 5 AGAIN, add 34 — exercises add-then-delete and
    // edit-then-edit across batch boundaries
    val b1 = Seq((31L, body(31), "upsert"), (32L, body(32), "upsert"),
      (33L, body(33), "upsert"), (5L, "edit one of doc 5", "upsert"),
      (1L, "", "delete"), (2L, "", "delete"))
    val b2 = Seq((31L, "", "delete"), (5L, "edit two of doc 5", "upsert"),
      (34L, body(34), "upsert"))
    def runOnce(ckpt: String): Unit = {
      val mem = MemoryStream[(Long, String, String)]
      val q = streamingIndexMaintenance(
          mem.toDF().toDF("doc_id", "text", "op"), idx, embed,
          "doc_id", "text")
        .option("checkpointLocation", ckpt).start()
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
    }
    runOnce(s"$tmp/ckpt1")
    val finalCorpus = ((3L to 30L).map(i =>
        (i, if (i == 5) "edit two of doc 5" else body(i))) ++
      Seq((32L, body(32)), (33L, body(33)), (34L, body(34))))
      .toDF("doc_id", "text")
    val want = embed(finalCorpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def live = graft.operators.Similarity.liveIndexRows(spark, idx)
      .select("n_id", "n_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(live == want,
      "after the CDC stream the index must serve exactly the current corpus")
    // full replay, fresh checkpoint: batch-keyed overwrites converge
    runOnce(s"$tmp/ckpt2")
    assert(live == want, "replay must be idempotent")
  }

  test("streamingIndexMaintenance seqCol: in-batch compaction keeps the highest-seq mutation, ties toward delete") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("idxcompact").toString
    val idx = s"$tmp/index"
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), transform(sequence(lit(0), lit(7)),
        i => (pmod(xxhash64(concat(col("text"), i)), lit(97)) / lit(97.0))
          .cast("float")).as("embedding"))
    val initial = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    graft.operators.Similarity.writeIvfIndex(embed(initial), idx,
      nCells = 2, idCol = "doc_id")
    // ONE micro-batch carrying multiple mutations per id — the raw CDC
    // shape the at-most-one contract forbids without seqCol:
    //   doc 1: upsert@1 then delete@2        -> dead
    //   doc 2: delete@1 then upsert@2        -> live, edited
    //   doc 3: upsert@1, upsert@2 (edit2 wins)
    //   doc 4: upsert@1 and delete@1 (TIE)   -> delete wins -> dead
    //   doc 6: upsert@1 (brand new)          -> live
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = streamingIndexMaintenance(
        mem.toDF().toDF("doc_id", "text", "op", "seq"), idx, embed,
        "doc_id", "text", seqCol = Some("seq"))
      .option("checkpointLocation", s"$tmp/ckpt").start()
    mem.addData(
      (1L, "doc 1 edit", "upsert", 1L), (1L, "", "delete", 2L),
      (2L, "", "delete", 1L), (2L, "doc 2 edit", "upsert", 2L),
      (3L, "doc 3 edit1", "upsert", 1L), (3L, "doc 3 edit2", "upsert", 2L),
      (4L, "doc 4 edit", "upsert", 1L), (4L, "", "delete", 1L),
      (6L, "doc 6", "upsert", 1L))
    q.processAllAvailable()
    q.stop()
    val want = embed(Seq((2L, "doc 2 edit"), (3L, "doc 3 edit2"),
        (5L, "doc 5"), (6L, "doc 6")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val live = graft.operators.Similarity.liveIndexRows(spark, idx)
      .select("n_id", "n_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(live == want,
      s"compacted CDC batch must resolve per-id races: got ${live.keySet}")
  }

  test("streamingCorpusIngest dedups, filters junk, and windows per language") {
    implicit val sqlCtx = spark.sqlContext
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    val good = "the data is a table and the scan is fast to run in the engine"
    val mem = MemoryStream[(Timestamp, Long, String, String)]
    val out = streamingCorpusIngest(
      mem.toDF().toDF("ts", "doc_id", "text", "lang"),
      "ts", "text", "doc_id", "lang", stop, minQuality = 0.1)
    // the caller contract (see streamingCorpusIngest scaladoc): the
    // static checker can't see that the dedup election only emits
    // current-batch rows
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = out.writeStream.format("memory").queryName("corpusingest")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, good, "en"),
      (ts("2024-01-01 10:05:00"), 2L, good.toUpperCase, "en"), // dup of 1
      (ts("2024-01-01 10:10:00"), 3L, "!!! ??? !!! ??? !!!", "en"), // junk
      (ts("2024-01-01 10:20:00"), 4L, good + " again", "es"))
    q.processAllAvailable()
    // advance the watermark past the window so the agg emits (append mode)
    mem.addData((ts("2024-01-01 13:00:00"), 9L, good + " late", "en"))
    q.processAllAvailable()
    q.stop()
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    val rows = spark.table("corpusingest")
      .select("lang", "n_docs", "tok_total")
      .as[(String, Long, Long)].collect().toSet
    // doc 2 (dup) and doc 3 (punctuation junk) are gone; `good` is
    // 15 tokens, the es variant appends one more
    assert(rows == Set(("en", 1L, 15L), ("es", 1L, 16L)))
  }

  test("stream-stream interval join pairs events within the time bound") {
    // purchases join views of the same user within the preceding hour —
    // both sides live streams, watermarks bound the join state
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val v = views.toDF().toDF("v_ts", "user_id").withWatermark("v_ts", "2 hours")
    val p = purchases.toDF().toDF("p_ts", "user_id", "amount")
      .withWatermark("p_ts", "2 hours")
    val q = p.as("p").join(v.as("v"),
        expr("p.user_id = v.user_id AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"))
      .select(col("p.user_id"), col("p_ts"), col("v_ts"), col("amount"))
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append).start()
    views.addData(
      (ts("2024-01-01 09:30:00"), 1L),   // in window for the 10:00 purchase
      (ts("2024-01-01 07:00:00"), 1L),   // too old
      (ts("2024-01-01 09:45:00"), 2L))   // other user
    purchases.addData((ts("2024-01-01 10:00:00"), 1L, 9.99))
    q.processAllAvailable()
    val rows = spark.table("ssjoin")
      .select("user_id", "v_ts").as[(Long, Timestamp)].collect()
    q.stop()
    assert(rows.toSeq == Seq((1L, ts("2024-01-01 09:30:00"))))
  }

  test("runWeeklyOrdered is ordered and exactly-once over a ledger") {
    val ledger = scala.collection.mutable.Set("2024_01_07")
    val seen = scala.collection.mutable.ListBuffer[String]()
    val done = runWeeklyOrdered(
      Seq("2024_01_14", "2024_01_07", "2024_01_21"), ledger)(seen += _)
    assert(done == Seq("2024_01_14", "2024_01_21"))  // skip already-done, in order
    assert(seen.toList == done)
    val again = runWeeklyOrdered(Seq("2024_01_14"), ledger)(seen += _)
    assert(again.isEmpty)
  }
}
