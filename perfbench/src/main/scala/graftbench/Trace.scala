package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spans and counters recorded around the benchmark's calls into
  * graft's layers. Nothing is recorded unless `enabled` (the traced
  * run); end-to-end metrics come from untraced runs.
  *
  * A span sets the thread-local Spark property [[SpanProp]] for its
  * duration, so every job the calling thread submits carries the
  * innermost open span's name, and [[SpanListener]] attributes the
  * job's task metrics to it. Spark copies local properties into the
  * threads a thread starts (streaming query threads included), so a
  * stream started inside a span reports to that span.
  */
object Trace {
  val SpanProp = "graftbench.span"

  /** The ten layer spans, in report order. */
  val Layers: Seq[String] = Seq(
    "sources.read", "sources.write", "operators.clean", "streaming.drain",
    "functions", "operators.text", "operators.dedup", "operators.index",
    "operators.table", "queries")

  @volatile var enabled: Boolean = false

  final case class Span(id: Long, name: String, parent: Long, request: Long,
                        startNs: Long, endNs: Long)

  private val nextId = new AtomicLong(1)
  private val finished = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[(Long, String)] // (span id, name)
  private val request = new ThreadLocal[java.lang.Long]
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def setRequest(id: Long): Unit = request.set(id)

  /** Run `body` as span `name`. The body's result is not materialized
    * here; callers that return a lazy frame use [[frame]].
    */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parent = Option(open.get())
    val prevProp = sc.getLocalProperty(SpanProp)
    val id = nextId.getAndIncrement()
    val req = Option(request.get()).map(_.longValue).getOrElse(0L)
    open.set((id, name))
    sc.setLocalProperty(SpanProp, name)
    val t0 = System.nanoTime()
    try body
    finally {
      finished.add(Span(id, name, parent.map(_._1).getOrElse(0L), req, t0,
        System.nanoTime()))
      parent match {
        case Some(p) => open.set(p)
        case None => open.remove()
      }
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Span over a call returning a frame; in the traced run the frame
    * is checkpointed eagerly inside the span, so its work is charged
    * here and the next span starts from materialized input.
    */
  def frame(spark: SparkSession, name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else span(spark, name)(body.localCheckpoint(true))

  /** [[frame]] for a frame several later steps consume: untraced, it
    * is persisted (as a caller reusing it would), so the lazy plans of
    * its consumers do not each recompute it.
    */
  def shared(spark: SparkSession, name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body.persist() else frame(spark, name)(body)

  def count(key: String, n: Long = 1): Unit =
    if (enabled) counters.computeIfAbsent(key, _ => new LongAdder).add(n)

  def counter(key: String): Long =
    Option(counters.get(key)).map(_.sum()).getOrElse(0L)

  def spans: Seq[Span] = finished.asScala.toSeq

  def reset(): Unit = { finished.clear(); counters.clear() }

  /** Self time per span name: each span's wall time minus the part of
    * it its direct children cover (children of one span never overlap:
    * a span's body runs on one thread).
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    all.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).max(0L) / 1e9
    }.sum).toMap
  }
}

/** Attributes each job's task metrics to the span named by the job's
  * [[Trace.SpanProp]] property. Also keeps run-wide totals (task time,
  * scheduler delay). Independent of graft's own BenchMetricsListener.
  */
final class SpanListener extends SparkListener {
  final class Acc {
    val jobs = new LongAdder; val tasks = new LongAdder
    val cpuNs = new LongAdder; val shuffleBytes = new LongAdder
    val spillBytes = new LongAdder; val peakMem = new AtomicLong(0)
  }
  private val bySpan = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val taskRunMs = new LongAdder
  val schedDelayMs = new LongAdder

  private def acc(span: String): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .getOrElse("untraced")
    acc(span).jobs.increment()
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val a = acc(stageSpan.getOrDefault(e.stageId, "untraced"))
    a.tasks.increment()
    a.cpuNs.add(m.executorCpuTime)
    a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
    a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    a.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    taskRunMs.add(m.executorRunTime)
    schedDelayMs.add((info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime).max(0L))
  }

  def totalJobs: Long = bySpan.values.asScala.map(_.jobs.sum()).sum
  def totalCpuSeconds: Double = bySpan.values.asScala.map(_.cpuNs.sum() / 1e9).sum

  def jobs(span: String): Long = Option(bySpan.get(span)).map(_.jobs.sum()).getOrElse(0L)
  def tasks(span: String): Long = Option(bySpan.get(span)).map(_.tasks.sum()).getOrElse(0L)
  def cpuSeconds(span: String): Double =
    Option(bySpan.get(span)).map(_.cpuNs.sum() / 1e9).getOrElse(0.0)
  def shuffleBytes(span: String): Long =
    Option(bySpan.get(span)).map(_.shuffleBytes.sum()).getOrElse(0L)
  def spillBytes(span: String): Long =
    Option(bySpan.get(span)).map(_.spillBytes.sum()).getOrElse(0L)
  def peakMemMb(span: String): Double =
    Option(bySpan.get(span)).map(_.peakMem.get() / 1048576.0).getOrElse(0.0)

  def reset(): Unit = {
    bySpan.clear(); stageSpan.clear(); taskRunMs.reset(); schedDelayMs.reset()
  }
}
