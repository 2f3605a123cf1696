package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.streaming.EventStream

/** Near-dup ingest against the at-rest store. Setup installs the store
  * over the base corpus; the stream then consumes the seeded batch files
  * one per trigger (`AvailableNow`, `maxFilesPerTrigger` 1) with in-loop
  * compaction every [[DedupIngest.FoldEvery]] triggers. One op is one
  * trigger, timed by the stream's own progress. Files are staged in
  * rounds of [[DedupIngest.FoldEvery]] triggers: any FoldEvery
  * consecutive batch ids hold exactly one fold. */
final class DedupIngest(ctx: Ctx) extends Workload {
  import ctx._
  import DedupIngest._

  private val storeDir = s"$work/store"
  private val keptDir = s"$work/kept"
  private val inDir = s"$work/in"
  private val ckpt = s"$work/ckpt"
  private case class Batch(file: String, novel: Seq[Long], dropped: Seq[Long])
  private val batches = Main.jsonSeq(expected.get("batches")).map { b =>
    def ids(k: String) = Main.jsonSeq(b.get(k)).map(_.asLong)
    Batch(b.get("file").asText, ids("novel"), ids("near") ++ ids("within"))
  }
  private var staged = 0
  private val mtime0 = System.currentTimeMillis() / 1000 * 1000
  private var installS = 0.0
  private var warmupTriggers = Seq.empty[Double]
  // trace: store shape after each trigger, fold vs plain trigger times
  private val storeShape = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val triggerKinds = mutable.ArrayBuffer.empty[(Boolean, Double)]

  tracer.stream.onTrigger = () => storeWalk()

  /** Stage the next `n` batch files, oldest first. */
  private def stage(n: Int): Unit = {
    require(staged + n <= batches.length,
      s"dedup_ingest: ${batches.length} batch files are not enough")
    new File(inDir).mkdirs()
    (staged until staged + n).foreach { i =>
      val dst = new File(inDir, batches(i).file)
      Files.copy(new File(s"$inputs/batches/${batches(i).file}").toPath, dst.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(mtime0 + i * 1000L)
    }
    staged += n
  }

  /** One AvailableNow run over `n` newly staged files; returns its
    * triggers as (batchId, seconds), the run's wall seconds, and its
    * start and end epoch ms. */
  private def round(n: Int): (Seq[(Long, Double)], Double, Long, Long) = {
    tracer.spans.op = staged // the round's first batch id
    stage(n)
    val schema = spark.read.parquet(s"$inputs/base.parquet").schema
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val q = tracer.span("streamingNearDupIngest", "streaming") {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = EventStream.streamingNearDupIngest(stream, storeDir, keptDir,
          "doc_id", "text", threshold = 0.8, compactStoreEvery = FoldEvery)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
      q
    }
    val wall = (System.nanoTime() - n0) / 1e9
    val trig = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.durationMs.containsKey("triggerExecution"))
      .map(p => p.batchId -> p.durationMs.get("triggerExecution").longValue / 1000.0)
    require(trig.length == n, s"expected $n triggers, saw ${trig.length}")
    (trig, wall, s0, System.currentTimeMillis())
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    Dedup.writeNearDupStore(spark.read.parquet(s"$inputs/base.parquet"),
      "doc_id", "text", storeDir)
    installS = (System.nanoTime() - t0) / 1e9
    // batch ids 0..Warmup-1: warm-up, checked at the end
    warmupTriggers = round(Warmup)._1.map(_._2)
  }

  private val roundWall = mutable.Map.empty[Long, Double]

  override def wall(samples: Seq[OpSample]): Double =
    samples.map(s => roundWall(s.kind.toLong)).sum

  /** Whole rounds, as many as fill `seconds` at the nominal round time
    * but at least [[MinRounds]], so every run measures the same triggers
    * and fold share. */
  def measure(seconds: Double): Seq[OpSample] = {
    val out = Seq.newBuilder[OpSample]
    val rounds = math.max(MinRounds.toLong, math.round(seconds / NominalRoundS)).toInt
    (1 to rounds).foreach { _ =>
      val (trig, wall, s0, e0) = round(FoldEvery)
      // op windows for the driver gap: triggers run back to back inside
      // the round, so each gets its share of the round's window
      var t = s0.toDouble
      trig.foreach { case (id, secs) =>
        val a = t; t += (e0 - s0) * secs / trig.map(_._2).sum
        out += OpSample(id.toString, secs, ok = true, a.toLong, t.toLong)
        roundWall(id) = wall / trig.length
        if (tracer.active) triggerKinds += ((isFold(id), secs))
      }
    }
    out.result()
  }

  /** Pass/fail per trigger: every planted dup of its batch was dropped
    * and every novel doc was kept (read from the published corpus). */
  override def finalCheck(samples: Seq[OpSample]): Seq[OpSample] = {
    val kept = graft.sources.Sources.readPublished(spark, keptDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def ok(i: Int): Boolean = {
      val b = batches(i)
      val novel = if (corrupt && i == Warmup) b.novel :+ b.dropped.head else b.novel
      novel.forall(kept) && !b.dropped.exists(d => kept(d) && !novel.contains(d))
    }
    warmFailures = (0 until Warmup).count(i => !ok(i))
    samples.map(s => s.copy(ok = ok(s.kind.toInt)))
  }

  private var warmFailures = 0
  override def setupFailures: Int = warmFailures

  private def isFold(id: Long) = id > 0 && id % FoldEvery == 0

  /** Store shape after a traced trigger (progress listener thread). */
  private def storeWalk(): Unit = {
    val sigs = Option(new File(storeDir, "signatures").listFiles()).toSeq.flatten
    val gens = sigs.count(f => f.isDirectory && f.getName.startsWith("batch="))
    def files(f: File): Long =
      if (f.isFile) 1L else Option(f.listFiles()).toSeq.flatten.map(files).sum
    synchronized {
      storeShape += ((gens.toDouble, files(new File(storeDir)).toDouble,
        Main.dirBytes(new File(storeDir)).toDouble))
    }
  }

  def layers(traced: Seq[OpSample]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val trig = tracer.stream.triggers.asScala.toSeq
    val shape = synchronized(storeShape.toList)
    Map(
      "streaming.add_batch_s" -> mean(trig.map(_._3 / 1000.0)),
      "streaming.overhead_s" -> mean(trig.map(t => (t._2 - t._3) / 1000.0)),
      "operators.fold_trigger_s" -> mean(triggerKinds.filter(_._1).map(_._2).toSeq),
      "operators.plain_trigger_s" -> mean(triggerKinds.filterNot(_._1).map(_._2).toSeq),
      "operators.store_generations" -> mean(shape.map(_._1)),
      "operators.store_files" -> mean(shape.map(_._2)),
      "operators.store_bytes" -> mean(shape.map(_._3)),
      "operators.install_s" -> installS)
  }

  override def extra(): Map[String, Any] = Map("warmup_trigger_s" -> warmupTriggers)

  def space(): (Long, Long) = {
    val left = Seq(storeDir, keptDir, ckpt).map(d => Main.dirBytes(new File(d))).sum
    val in = Main.dirBytes(new File(s"$inputs/base.parquet")) +
      batches.take(staged).map(b => new File(s"$inputs/batches/${b.file}").length()).sum
    (left, in)
  }
}

object DedupIngest {
  val FoldEvery = 3
  /** Warm-up triggers; the first runs about twice as long as a warm one. */
  val Warmup = 2
  /** At least two folds and six triggers per run. */
  val MinRounds = 2
  /** One warm round on 4 cores, in seconds. */
  val NominalRoundS = 15.0
}
