package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code: a call into a public entry point
  * (`op:<name>`), or a part of one (`call:<name>` = the eager work before
  * the DataFrame is returned, `collect:<name>` = materialising the result). */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = Long.MaxValue
  var gcMs: Long = 0L
  var gcCount: Long = 0L
  /** Recorded while the listeners were attached. */
  var traced: Boolean = false
  val children: ArrayBuffer[Span] = ArrayBuffer.empty
  def ms: Double = (endNs - startNs) / 1e6
  def selfMs: Double = ms - children.map(_.ms).sum
}

/** Spark-side work attributed to a span: jobs, stages, tasks and task
  * metrics, summed over every job that ran on the span's behalf. */
final class SpanWork {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var peakExec = 0L
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  var planMs = 0L; var executions = 0
}

/** Span recorder plus the three listeners of the traced run. Spans are
  * kept in memory; Spark work is attributed to the innermost open span
  * through the `graftbench.span` local property, which jobs carry, or by
  * time where an event has no property (planning, async jobs). Listeners
  * are attached only in the traced run; an untraced run records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Span] = Nil
  private val work = mutable.HashMap.empty[Int, SpanWork]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  val progress: ArrayBuffer[(String, StreamingQueryProgress)] = ArrayBuffer.empty
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var attached = false

  private def gcTotals: (Long, Long) =
    (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption, System.nanoTime, System.currentTimeMillis)
      s.traced = attached
      spans.synchronized { spans += s }
      s.parent.foreach(_.children += s)
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      val (gt0, gc0) = gcTotals
      try body
      finally {
        val (gt1, gc1) = gcTotals
        s.gcMs = gt1 - gt0; s.gcCount = gc1 - gc0
        s.endNs = System.nanoTime; s.endMs = System.currentTimeMillis
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** The innermost span open at wall time `ms`, for events without the
    * local property. */
  private def spanAt(ms: Long): Option[Int] = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs).map(_.id)
  }

  private def workOf(id: Int): SpanWork = work.getOrElseUpdate(id, new SpanWork)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      prop.orElse(spanAt(e.time)).foreach { id =>
        val w = workOf(id)
        w.jobs += 1; w.stages += e.stageInfos.size
        e.stageIds.foreach(stageSpan(_) = id)
        jobSpan(e.jobId) = (id, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) => workOf(id).jobIntervals += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val w = workOf(id); val m = e.taskMetrics; val i = e.taskInfo
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime; w.cpuNs += m.executorCpuTime
          w.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          w.spill += m.diskBytesSpilled
          w.peakExec = math.max(w.peakExec, m.peakExecutionMemory)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) spanAt(phases.map(_.startTimeMs).min).foreach { id =>
        val w = workOf(id)
        w.planMs += phases.map(_.durationMs).sum; w.executions += 1
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += ((e.progress.name, e.progress)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc, 60000L)

  /** Work attributed to `s` itself. */
  def own(s: Span): Option[SpanWork] = synchronized(work.get(s.id))

  /** Work of `s` and every span below it. */
  def workUnder(s: Span): Seq[SpanWork] = synchronized {
    def ids(x: Span): Seq[Int] = x.id +: x.children.toSeq.flatMap(ids)
    ids(s).flatMap(work.get)
  }
}

object Tracer {
  val Key = "graftbench.span"

  /** Length of the union of the intervals — wall time covered by jobs. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (iv.nonEmpty) total += curE - curS
    total
  }
}
