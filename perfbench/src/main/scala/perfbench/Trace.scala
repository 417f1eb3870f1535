package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler counters summed over every job the session runs while the
  * listener is registered. Read them through [[snapshot]], which first waits
  * for the listener bus to deliver the events already posted. */
final class ExecCounters(sc: SparkContext) extends SparkListener {
  val jobs, stages, tasks, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot(): Map[String, Long] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "input_bytes" -> inputBytes.get,
      "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get)
  }
}

/** One completed micro-batch of one streaming query. `endMs` is when its
  * trigger finished, after the sink and offset commits. */
final case class BatchProgress(
  query: String, batchId: Long, rows: Long, startMs: Long, endMs: Long,
  durations: Map[String, Long])

/** Collects every streaming progress report; `query` is the sink's
  * description, which names the output path. */
final class ProgressLog extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  val started = new AtomicLong
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.incrementAndGet()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Instant.parse(p.timestamp).toEpochMilli
    if (p.numInputRows > 0)
      progress.add(BatchProgress(p.sink.description, p.batchId, p.numInputRows, start,
        start + d.getOrElse("triggerExecution", 0L), d))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  def all: Seq[BatchProgress] = progress.asScala.toSeq
  /** Rows processed so far by the query whose sink description contains `sink`. */
  def rows(sink: String): Long = all.filter(_.query.contains(sink)).map(_.rows).sum
  /** Micro-batches with data run so far by that query. */
  def batches(sink: String): Int = all.count(_.query.contains(sink))
}

/** In-memory spans: name, start, end, parent, the run id every span of a
  * run shares, and the scheduler counters at both boundaries. */
final class Tracer(runId: String, counters: () => Map[String, Long]) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime(), 0L,
      counters(), Map.empty)
    spans += s
    open = s.id :: open
    try body
    finally {
      s.countsEnd = counters()
      s.endNs = System.nanoTime()
      open = open.tail
    }
  }

  /** Spans as JSON-ready maps, each with its self time: its duration minus
    * the part of it that its child spans cover. */
  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val children = spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
    Map(
      "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6,
      "self_ms" -> (s.endNs - s.startNs - children) / 1e6,
      "counts" -> s.countsEnd.map { case (k, v) => k -> (v - s.countsStart.getOrElse(k, 0L)) })
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long,
    countsStart: Map[String, Long], var countsEnd: Map[String, Long])
}
