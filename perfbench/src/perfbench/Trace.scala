package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a module call or a whole op. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until [[Spans.toJson]] is called at the end of the run. While `on` is
  * false `span` only runs its body, so untraced ops pay nothing. */
final class Spans {
  @volatile var on = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile var op: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val idx = synchronized { buf += null; buf.length - 1 }
      stack.set(idx :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { buf(idx) = Span(name, layer, t0, t1, parent, op) }
      }
    }

  /** Per-layer self time (span minus its children), summed. */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    val byIdx = synchronized(buf.toIndexedSeq)
    byIdx.foreach { s =>
      if (s != null && s.parent >= 0) childTime(s.parent) += s.seconds }
    byIdx.zipWithIndex.collect { case (s, i) if s != null =>
      s.layer -> (s.seconds - childTime(i)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = Json.arr(synchronized(buf.toList).filter(_ != null).map { s =>
    Map("name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)
  })
}

/** Counters fed by Spark's public listener interfaces. Everything is
  * summed between [[reset]] and the read; per-op figures divide by the
  * op count. Job intervals are kept so the driver gap (op wall minus the
  * union of its jobs' intervals) can be derived per op. */
final class SparkCounters
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var jobs, stages, tasks = 0L
  @volatile var taskMs, cpuNs, gcMs = 0L
  @volatile var shuffleWrite, shuffleRead, spill, output = 0L
  @volatile var planMs, scanRows = 0L
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = mutable.Map.empty[Int, Long]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; output = 0
    planMs = 0; scanRows = 0
    jobIntervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals.add((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val scans = collectWithSubqueries(qe.executedPlan) {
      case p if p.nodeName.startsWith("Scan") =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    synchronized { planMs += plan; scanRows += scans }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Seconds of `[t0, t1]` (epoch ms) not covered by any job interval. */
  def driverGapMs(t0: Long, t1: Long): Long = {
    val ivs = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b } }
    (t1 - t0) - covered
  }
}

/** Trigger-level figures from the stream's progress events;
  * `onTrigger` runs after each trigger that read data. */
final class StreamCounters extends StreamingQueryListener {
  @volatile var onTrigger: () => Unit = () => ()
  val triggers = new ConcurrentLinkedQueue[(Long, Long, Long)]() // batch, trigger ms, addBatch ms
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (p.numInputRows > 0 && d.containsKey("triggerExecution")) {
      triggers.add((p.batchId, d.get("triggerExecution").longValue,
        Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)))
      onTrigger()
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The traced run's instruments: spans plus Spark's listeners. Nothing
  * is registered or recorded until [[attach]]. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val counters = new SparkCounters
  val stream = new StreamCounters
  @volatile private var attached = false

  def active: Boolean = attached

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    spark.streams.addListener(stream)
    spans.on = true
    attached = true
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (attached) org.apache.spark.PerfbenchBus.drain(spark)

  def span[T](name: String, layer: String)(body: => T): T = spans.span(name, layer)(body)
}
