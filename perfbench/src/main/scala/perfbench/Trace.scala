package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed region of the benchmark, recorded around a call into graft.
  * `op` is the closed-loop operation the span belongs to (-1 for set-up
  * probes); times are System.nanoTime, plus the wall clock so jobs run on
  * Spark's own threads can be matched by time.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val start: Long, val startMs: Long) {
  var end: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (end - start) / 1e9
}

/** What Spark reported for the jobs, stages and tasks run inside a span. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  /** Tasks that read at least one input row. */
  var inputTasks = 0L
  var singleTaskStageMs = 0L
  var taskRunMs = 0L
  var maxTaskRunMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Spans kept in memory for one run. When tracing is off every `span`
  * call just runs its body, so the untraced loop pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = synchronized {
        val s = new Span(spans.size, name, parent, op, System.nanoTime(),
          System.currentTimeMillis())
        spans += s
        s
      }
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** The span a job belongs to: the one named by the job's local property
    * (jobs the benchmark thread submits), else the innermost span open at
    * the job's start time (jobs a streaming query submits on its own thread).
    */
  def owner(prop: Option[String], timeMs: Long): Option[Int] =
    prop.map(_.toInt).orElse(synchronized {
      spans.filter(s => s.startMs <= timeMs && (s.endMs < 0 || s.endMs >= timeMs))
        .sortBy(s => -s.start).headOption.map(_.id)
    })

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def ofName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** A tracer that records nothing, for the untraced loop and set-up. */
  def off(sc: SparkContext): Tracer = new Tracer(sc, enabled = false)
}

/** Attributes every job, stage and task to the span that submitted it. */
final class WorkListener(tracer: Tracer) extends SparkListener {
  val work = mutable.Map.empty[Int, SparkWork]
  private val stageOwner = mutable.Map.empty[Int, Int]

  private def of(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    tracer.owner(prop, e.time).foreach { span =>
      of(span).jobs += 1
      e.stageIds.foreach(stageOwner(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { span =>
      val w = of(span)
      w.stages += 1
      if (e.stageInfo.numTasks == 1)
        for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
          w.singleTaskStageMs += c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = of(span)
      w.tasks += 1
      if (m.inputMetrics.recordsRead > 0) w.inputTasks += 1
      w.taskRunMs += m.executorRunTime
      w.maxTaskRunMs = math.max(w.maxTaskRunMs, m.executorRunTime)
      w.cpuNs += m.executorCpuTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Work of the given spans, summed. */
  def total(spans: Seq[Span]): SparkWork = synchronized {
    val t = new SparkWork
    spans.flatMap(s => work.get(s.id)).foreach { w =>
      t.jobs += w.jobs; t.stages += w.stages; t.tasks += w.tasks
      t.inputTasks += w.inputTasks
      t.singleTaskStageMs += w.singleTaskStageMs; t.taskRunMs += w.taskRunMs
      t.maxTaskRunMs = math.max(t.maxTaskRunMs, w.maxTaskRunMs)
      t.cpuNs += w.cpuNs; t.shuffleWriteBytes += w.shuffleWriteBytes
      t.spillBytes += w.spillBytes
    }
    t
  }
}

/** Keeps every micro-batch progress report of the benchmark's stream. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)
}
