package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One timed op: its kind, wall seconds, whether its output check held,
  * and its epoch-ms window (for the driver-gap derivation). */
final case class OpSample(kind: String, seconds: Double, ok: Boolean,
                          startMs: Long, endMs: Long)

/** Everything a workload needs: the session, its inputs, a private work
  * dir and the tracer (inert until attached in a `--trace 1` run). */
final case class Ctx(spark: SparkSession, inputs: String, work: String,
                     seed: Long, corrupt: Boolean, expected: JsonNode,
                     tracer: Tracer, cores: Int)

trait Workload {
  /** Install state and run the warm-up ops; nothing here is timed as an op. */
  def setup(): Unit

  /** Closed-loop ops for about `seconds`, in whole cycles or rounds. */
  def measure(seconds: Double): Seq[OpSample]

  /** Output checks that can only run after the loop (e.g. over a
    * published corpus); returns the samples with their verdicts. */
  def finalCheck(samples: Seq[OpSample]): Seq[OpSample] = samples

  /** Workload-specific per-layer figures over the traced samples. */
  def layers(traced: Seq[OpSample]): Map[String, Double]

  /** Bytes the workload left on disk and the bytes of its generated input. */
  def space(): (Long, Long)

  /** Side outputs for run.py (the oracle's queries). */
  def extra(): Map[String, Any] = Map.empty

  /** Warm-up ops whose output check failed. */
  def setupFailures: Int = 0

  /** Wall seconds the samples took, as a user waits for them. */
  def wall(samples: Seq[OpSample]): Double = samples.map(_.seconds).sum
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val inputs = arg(args, "--inputs").get
    val work = arg(args, "--work").get
    val out = arg(args, "--out").get
    val corrupt = arg(args, "--corrupt-expected").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.build("perfbench", cores, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val expected = new ObjectMapper().readTree(new File(inputs, "expected.json"))
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, inputs, work, seed, corrupt, expected, tracer, cores)
    val wl: Workload = workload match {
      case "analytics_mix" => new AnalyticsMix(ctx)
      case "dedup_ingest" => new DedupIngest(ctx)
    }
    try {
      val setupT0 = System.nanoTime()
      wl.setup()
      val setupS = (System.nanoTime() - setupT0) / 1e9
      val firstOpMs = System.currentTimeMillis()
      // traced runs measure an untraced half first, so the tracing
      // overhead is traced minus untraced op_p50 on the same process
      val (plain, traced) =
        if (!trace) (wl.measure(seconds), Seq.empty[OpSample])
        else {
          val u = wl.measure(seconds / 2)
          tracer.attach()
          tracer.counters.reset()
          val t = wl.measure(seconds / 2)
          tracer.drain()
          (u, t)
        }
      val checked = wl.finalCheck(plain ++ traced)
      val (plainC, tracedC) = checked.splitAt(plain.length)
      val (left, input) = wl.space()
      val layers =
        if (!trace) Map.empty[String, Double]
        else Main.sparkLayers(ctx, tracedC) ++ wl.layers(tracedC) ++ Map(
          "core.session_s" -> sessionS,
          "trace.overhead_s" ->
            (median(tracedC.map(_.seconds)) - median(plainC.map(_.seconds))),
          "storage.space_amp" -> left.toDouble / math.max(1L, input)) ++
          tracer.spans.selfSeconds.map { case (l, s) =>
            s"self.${l}_s" -> s / math.max(1, tracedC.length) }
      if (trace)
        Files.write(Paths.get(work, "trace_spans.json"),
          tracer.spans.toJson.getBytes(StandardCharsets.UTF_8))
      val env = Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "scala_version" -> scala.util.Properties.versionNumberString,
        "cores" -> cores,
        "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql") || k == "spark.master" }.toMap)
      val res = Json.obj(
        "first_op_ms" -> firstOpMs,
        "ops" -> checked.zipWithIndex.map { case (o, i) => Map(
          "kind" -> o.kind, "s" -> o.seconds, "ok" -> o.ok,
          "traced" -> (i >= plain.length)) },
        "timed_wall_s" -> wl.wall(plainC),
        "setup_failures" -> wl.setupFailures,
        "space_left_bytes" -> left, "input_bytes" -> input,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_s" -> sessionS, "workload_setup_s" -> setupS,
        "peak_rss_kb" -> peakRssKb(),
        "layers" -> layers, "env" -> env, "extra" -> wl.extra())
      Files.write(Paths.get(out), res.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** The `spark` layer, per traced op, from the listener counters. */
  def sparkLayers(ctx: Ctx, ops: Seq[OpSample]): Map[String, Double] = {
    val c = ctx.tracer.counters
    val n = math.max(1, ops.length).toDouble
    val wall = ops.map(_.seconds).sum
    val gaps = ops.map(o => c.driverGapMs(o.startMs, o.endMs) / 1000.0)
    Map(
      "spark.plan_s" -> c.planMs / 1000.0 / n,
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.task_s" -> c.taskMs / 1000.0 / n,
      "spark.task_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.gc_s" -> c.gcMs / 1000.0 / n,
      "spark.core_util" -> c.taskMs / 1000.0 / math.max(1e-9, wall * ctx.cores),
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.output_bytes" -> c.output / n)
  }

  def jsonSeq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  /** This JVM's peak resident set so far (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }
      .getOrElse(0L)
}
