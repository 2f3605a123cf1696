package graft

import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, Tables}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing FULL materialization through the noop
  * sink (count() alone lets parquet metadata short-circuit scans), and
  * prints per-query seconds as JSON: first a full medians+spread line
  * (also persisted to BENCH_DETAIL.json), then a compact medians-only
  * line LAST — consumers that keep only the final ~2 KB of output get a
  * complete, parseable object.
  *
  * Repetitions are INTERLEAVED round-robin: the whole battery runs
  * SPARK_GRAFT_BENCH_RUNS times (default 5) and each query's headline
  * number is the MEDIAN of its per-pass times. A noisy window on this
  * shared box therefore taxes one PASS of many queries instead of every
  * run of one query — back-to-back repetition let a single contention
  * spike move one query's median up to 12× between rounds on
  * byte-identical code. The min/max spread is reported alongside, and
  * the detail line records the system load average at start and end so
  * a contended run is identifiable after the fact.
  *
  * The cache is cleared after every query run (operator-persisted
  * blocks from 80+ queries would otherwise accumulate across a pass and
  * tax later queries — see NOTES.md gotcha 16), so per-pass times are
  * position-independent; OS page cache and JIT warmth still carry
  * across passes, which is what the median reflects after pass 1.
  *
  * CLEAN-BOX TAIL REFINEMENT: after the interleaved passes, the
  * slowest queries (median ≥ 2 s, up to 12 of them) are re-measured
  * with SPARK_GRAFT_BENCH_REFINE (default 5) additional back-to-back
  * samples each, taken after a cache clear + System.gc() settle so a
  * heavy query's published number is not hostage to whatever the
  * battery (or the box) was doing during its five interleaved slots —
  * measured across rounds 8–10, a ~5 s query's interleaved median
  * wandered 3.5–23 s while its solo median stayed ~4.8 s. The
  * HEADLINE median for those queries is taken over ALL samples
  * (interleaved + refined), so one contended pass is outvoted; the
  * detail line records both medians per refined query under
  * "tail_refined" so the two protocols stay auditable side by side.
  *
  * STREAM-LIFECYCLE MIN POLICY: keys containing "_stream" publish the
  * MIN over all samples as their headline (detail line lists them under
  * "stream_min_keys") — their wall is a lifecycle floor plus
  * strictly-additive scheduler noise that tracks box load, not code, so
  * the min is the code-attributable number and cross-round deltas on
  * these keys become readable from the JSON alone. The floor holds no
  * recompile: each sample starts new queries, but every session shares
  * one codegen cache, sized to hold every class the battery compiles
  * (see `GraftSession`), so only a key's first sample compiles.
  *
  * COMPILE COUNTS: the detail line's "compiled" object gives each
  * key's generated classes compiled (Spark's codegen cache misses), the
  * min over its successful samples; a warm key reads 0, so a key that
  * recompiles on every sample stands out.
  *
  * A warm-up pass (tiny range job + one parquet footer read) is excluded
  * from timings so the first measured query doesn't absorb JVM/codegen/
  * classloading cost.
  *
  * LOAD GATE: before the first measured pass, the bench waits (up to
  * SPARK_GRAFT_BENCH_LOAD_WAIT_SEC, default 300 s) for the box's
  * 1-minute loadavg to drop under SPARK_GRAFT_BENCH_MAX_LOAD (default
  * 1.0). If it never does, measurement proceeds but BOTH output lines
  * carry `"contended":true` and the detail line records the gate value
  * and a per-pass loadavg trail — a contended artifact self-identifies
  * instead of silently publishing noise (rounds 10 and 12 both lost
  * their hard perf signal to exactly this).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = GraftSession.build("graft-bench", cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // LOAD GATE (round-12 lesson, round 10 before it): a battery
    // measured on a contended box is mush — r12's headline moved +12%
    // on byte-identical code at loadavg 4.4. Before measuring, WAIT for
    // the box to go idle (up to SPARK_GRAFT_BENCH_LOAD_WAIT_SEC); if it
    // never does, proceed but stamp "contended":true IN-BAND in both
    // output lines so the artifact self-reports as untrustworthy
    // instead of silently degrading. Only the START load can gate:
    // once passes run, the 1-min EWMA is dominated by the bench's own
    // 32 threads, so per-pass loads below are an audit trail, not a
    // gate.
    val loadGate =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0").toDouble
    val loadWaitMs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT_SEC", "300").toLong * 1000L
    val waitStart = System.currentTimeMillis()
    var gateLoad = loadAvg
    while (gateLoad > loadGate &&
           System.currentTimeMillis() - waitStart < loadWaitMs) {
      System.err.println(
        f"[bench] loadavg $gateLoad%.2f > gate $loadGate%.2f — waiting for an idle box")
      Thread.sleep(15000)
      gateLoad = loadAvg
    }
    val contended = gateLoad > loadGate
    if (contended) System.err.println(
      f"[bench] box still loaded ($gateLoad%.2f) after ${loadWaitMs / 1000}%d s — measuring anyway, stamping contended")
    val load0 = gateLoad
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]

    // warm-up: JVM + codegen + parquet reader paths, not part of timings
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.region(spark, sfDir).count()

    // optional args select a subset (targeted local iteration)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val names = selected.toSeq.sortBy(_._1)
    val times = scala.collection.mutable.Map.empty[String, Vector[(Double, Boolean)]]
    // per-query PHASE decomposition (round-18 verdict #6): the
    // stream/store gates wrap their install/append/fold/stream steps in
    // PhaseTimer.timed, so a per-phase regression can't hide under a
    // stable total. Per phase the MIN over samples is kept (the
    // stream-min rationale: lifecycle floors plus additive noise), and
    // the probe/emit remainder is published as "rest" at print time.
    val phaseMins = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    // generated classes each key compiles (codegen cache misses; the
    // counter is JVM-wide and local mode runs every task in this JVM),
    // the min over successful samples: a warm key compiles 0
    val compiledMins = scala.collection.mutable.Map.empty[String, Long]
    def compiledSoFar: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def sample(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      // label every job with its query (guide §1.5) so event logs / the UI
      // attribute each job to a bench key — zero-cost when logs are off
      spark.sparkContext.setJobDescription(name)
      val c0 = compiledSoFar
      val t0 = System.nanoTime()
      val (ok, phases) = graft.core.PhaseTimer.collect {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (ok) compiledMins(name) =
        math.min(compiledSoFar - c0, compiledMins.getOrElse(name, Long.MaxValue))
      if (ok && phases.nonEmpty) {
        val prev = phaseMins.getOrElse(name, Map.empty)
        phaseMins(name) = phases.map { case (p, sec) =>
          p -> math.min(sec, prev.getOrElse(p, Double.MaxValue)) }
      }
      // drop caches this query (or its upstream operators) persisted so
      // the rest of the pass isn't taxed by lingering blocks
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(null)
      times(name) = times.getOrElse(name, Vector.empty) :+ (t, ok)
    }
    (1 to runs).foreach { _ =>
      passLoads += loadAvg
      names.foreach { case (n, f) => sample(n, f) }
    }
    def medianOf(ts: Vector[Double]): Double = { val s = ts.sorted; s(s.size / 2) }
    // successful samples only, everywhere a number is published or a
    // policy decision is made from one: a crashed run's duration is
    // time-to-failure, and letting it into the tail-selection median
    // would EXCLUDE a heavy query from refinement exactly when its one
    // honest sample most needs corroboration (all-failed keys fall back
    // to raw times and sit in the failures list)
    def okTimes(n: String): Vector[Double] = {
      val ok = times(n).collect { case (t, true) => t }
      if (ok.nonEmpty) ok else times(n).map(_._1)
    }
    // clean-box tail refinement (see scaladoc): extra back-to-back
    // samples for the heavy tail, after a GC settle
    val refineRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_REFINE", "5").toInt
    val tail = names
      .filter { case (n, _) => medianOf(okTimes(n)) >= 2.0 }
      .sortBy { case (n, _) => -medianOf(okTimes(n)) }
      .take(12)
    val interleavedMedians = tail.map { case (n, _) => n -> medianOf(okTimes(n)) }.toMap
    if (refineRuns > 0 && tail.nonEmpty) {
      System.gc(); Thread.sleep(1000)
      tail.foreach { case (n, f) => (1 to refineRuns).foreach(_ => sample(n, f)) }
    }
    // STREAM-LIFECYCLE MIN POLICY (round-17 verdict #7): the *_stream
    // keys time a full Structured-Streaming lifecycle (checkpoint dir,
    // 2–4 AvailableNow triggers, state-store setup) whose fixed floor
    // is code-attributable but whose per-trigger scheduling moves with
    // box load, not code — across rounds these keys dominated the
    // cross-round delta on byte-identical plans (d27 9.6→11.6 s on a
    // 1.7-loadavg pass). Their HEADLINE number is the MIN over all
    // samples (the tail_refined rationale applied per-key): load noise
    // on a deterministic floor is strictly additive, so the min is the
    // code-attributable number. Non-stream keys keep the median; the
    // [min,max] spread stays in the detail line for both.
    def streamKey(n: String): Boolean = n.contains("_stream")
    val results = names.map { case (name, _) =>
      val runsFor = times(name)
      // published numbers come from SUCCESSFUL samples only — a crashed
      // run's duration is time-to-failure, not query cost, and under
      // the stream-min policy one fast crash would otherwise become the
      // headline (all-failed keys keep their raw times and sit in the
      // failures list)
      val ts = okTimes(name).sorted
      val headline = if (streamKey(name)) ts.head else ts(ts.size / 2)
      (name, headline, ts.head, ts.last, runsFor.forall(_._2))
    }
    val qs3 = results.map { case (k, med, _, _, _) => "\"" + k + f"""\":$med%.3f""" }
      .mkString("{", ",", "}")
    val spread = results
      .map { case (k, _, lo, hi, _) => "\"" + k + f"""\":[$lo%.3f,$hi%.3f]""" }
      .mkString("{", ",", "}")
    // a crashed query must not masquerade as a fast success in the one
    // line consumers parse — surface failures in-band
    val failures = results.collect { case (k, _, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // sum of per-query MINIMA: the code-attributable number — the
    // pass-interleaved median total moves with box contention on
    // byte-identical code (r13 read +6% on nothing), the min-of-spread
    // sum doesn't
    val sumOfMin = results.map(_._3).sum
    val refined = tail.map { case (n, _) =>
      val all = okTimes(n)
      "\"" + n + "\":{\"interleaved\":" +
        f"${interleavedMedians(n)}%.3f" + ",\"combined\":" +
        f"${medianOf(all)}%.3f" + s""","n":${all.size}}"""
    }.mkString("{", ",", "}")
    val perPassLoads = passLoads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val streamMinKeys = results.collect { case (k, _, _, _, _) if streamKey(k) =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    // per-phase seconds for the instrumented stream/store keys, each
    // phase the min over samples; "rest" = the key's min total minus
    // the phase sum (the probe/emit remainder — the part the gate
    // returns lazily and the noop sink materializes)
    val phasesJson = results
      .collect { case (k, _, lo, _, _) if phaseMins.contains(k) =>
        val ph = phaseMins(k)
        val rest = math.max(0.0, lo - ph.values.sum)
        val inner = (ph.toSeq :+ ("rest" -> rest))
          .map { case (p, sec) => "\"" + p + f"""\":$sec%.3f""" }
          .mkString(",")
        "\"" + k + "\":{" + inner + "}"
      }.mkString("{", ",", "}")
    val compiledJson = results.collect { case (k, _, _, _, _) if compiledMins.contains(k) =>
      "\"" + k + "\":" + compiledMins(k) }.mkString("{", ",", "}")
    val detail =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sum_of_min":$sumOfMin%.3f,"runs":$runs,"refine_runs":$refineRuns,"loadavg":[$load0%.2f,$loadAvg%.2f],"load_gate":$loadGate%.2f,"contended":$contended,"pass_loadavg":$perPassLoads,"stream_min_keys":$streamMinKeys,"phases":$phasesJson,"compiled":$compiledJson,"queries":$qs3,"spread":$spread,"tail_refined":$refined,"failures":$failures,"sf":"$sfDir"}"""
    // Full medians+spread JSON: printed first and persisted to a file.
    // The consumer of this output keeps only the LAST ~2000 characters,
    // so the detail line (≈4.5 KB at 80 queries) can never be the final
    // line — it would be truncated mid-object and parse as nothing.
    println(detail)
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        (detail + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // Final line: compact medians-only (2 dp, ~10 ms resolution — well
    // below the ±10–20% box noise; trailing zeros stripped), sized to
    // survive a 2000-char tail with room for the build tool's trailing
    // status line.
    def short(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".format(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    // failures stay in-band when present; omitted when empty (like the
    // sf tag, which the detail line carries) to keep this line
    // comfortably inside the consumer's ~2 KB tail window as the query
    // battery grows
    val failPart = (if (failures == "[]") "" else s""","failures":$failures""") +
      (if (contended) s""","contended":true""" else "")
    // battery size + loadavg ride the FINAL line too (not just the
    // detail line): cross-round comparisons need both without digging
    // up BENCH_DETAIL.json — a bigger battery or a loaded box explains
    // a bigger total before anyone chases a phantom regression
    val envPart = f""","n_queries":${results.size},"loadavg":[$load0%.2f,$loadAvg%.2f]"""
    def compact(dp: Int): String = {
      val qs = results.map { case (k, med, _, _, _) => "\"" + k + "\":" + short(med, dp) }
        .mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sum_of_min":$sumOfMin%.2f$envPart,"queries":$qs$failPart}"""
    }
    // the battery has grown past the point where 2 dp always fits the
    // consumer's window — degrade per-query precision (never the total,
    // never the failure list) until the line is safely under 1.9 KB;
    // full 3 dp medians live in the detail line / BENCH_DETAIL.json
    //
    // If even 1 dp overflows (the battery outgrew the window at ~95
    // queries: names alone are ~1.4 KB), keep explicit entries for the
    // SLOWEST queries — the ones perf judgment needs — and fold the
    // fastest remainder into one EXPLICIT bucket carrying its count,
    // summed seconds, and per-query max. Never a silent cap: the bucket
    // says exactly what it absorbed, and the full per-query medians are
    // one line up and in BENCH_DETAIL.json.
    def bucketed(k: Int): String = {
      val bySlow = results.sortBy(r => -r._2)
      val keep = bySlow.take(k).sortBy(_._1)
      val rest = bySlow.drop(k)
      val qs = keep.map { case (n, med, _, _, _) => "\"" + n + "\":" + short(med, 1) }
        .mkString("{", ",", "}")
      val restPart = if (rest.isEmpty) "" else
        s""","fastest_omitted":{"n":${rest.size},"sum_sec":${short(rest.map(_._2).sum, 2)},"max_sec":${short(rest.map(_._2).max, 2)}}"""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sum_of_min":$sumOfMin%.2f$envPart,"queries":$qs$restPart$failPart}"""
    }
    // last-ditch floor: a mass-failure run can make the failures array
    // alone outgrow the window — collapse it to a count so SOME parseable
    // line always lands in the tail (the full list is in the detail line)
    val floorLine = {
      val nFail = results.count(!_._5)
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sum_of_min":$sumOfMin%.2f$envPart,"queries":{},"queries_omitted":${results.size},"failures_n":$nFail}"""
    }
    val line = (2 to 1 by -1).map(compact).find(_.length <= 1900)
      .getOrElse((results.size to 0 by -1).view.map(bucketed)
        .find(_.length <= 1900).getOrElse(floorLine))
    println(line)
    spark.stop()
  }
}
