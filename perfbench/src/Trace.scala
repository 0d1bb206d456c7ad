package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a layer call made from the benchmark's own code.
  * `op` is the operation id shared by every span of one operation. Times
  * are epoch ms (to line up with Spark's listener timestamps) plus
  * nanoTime for the duration. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, durNs: Long)

final case class TaskRec(launchMs: Long, runMs: Long,
    gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
    recordsRead: Long, recordsWritten: Long, bytesWritten: Long)

final case class StageRec(submitMs: Long, completeMs: Long)

final case class ProgressRec(atMs: Long, triggerMs: Long, walMs: Long,
    planningMs: Long)

/** Spans kept in memory and handed out when the run ends. With tracing
  * off `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - n0
        stack = stack.tail
        spans += Span(id, name, parent, op, m0, System.currentTimeMillis(), dur)
      }
    }

  def all: Seq[Span] = spans.sortBy(_.id).toSeq
}

/** Spark and streaming listeners that keep raw records; attribution to
  * spans happens once the run ends (see [[Attribution]]). */
final class Recorder extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      stages.add(StageRec(s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks.add(TaskRec(i.launchTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
        m.outputMetrics.bytesWritten))
    }
  }

  def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    // the trigger's own start time: events arrive asynchronously, maybe
    // after the span that ran the trigger has closed
    progress.add(ProgressRec(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
      get("triggerExecution"), get("walCommit"), get("queryPlanning")))
  }
}

object Recorder {
  /** The traced run's recorder, which [[StreamListener]]s report to. */
  @volatile var current: Option[Recorder] = None
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * every session gets one: the engine runs its streaming queries in
  * sessions of their own (`newSession()`), whose events a listener added
  * to the benchmark's session never sees. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Recorder.current.foreach(_.onProgress(e))
}

/** Totals of listener records whose timestamp falls inside a set of
  * spans. A record belongs to the innermost span open at its timestamp,
  * which is sound because the benchmark runs one operation at a time. */
final case class Totals(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
    recordsRead: Long, recordsWritten: Long, bytesWritten: Long,
    microbatches: Long, triggerMs: Long, walMs: Long, planningMs: Long,
    scanTaskMs: Long) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    spillB + o.spillB, recordsRead + o.recordsRead,
    recordsWritten + o.recordsWritten, bytesWritten + o.bytesWritten,
    microbatches + o.microbatches, triggerMs + o.triggerMs, walMs + o.walMs,
    planningMs + o.planningMs, scanTaskMs + o.scanTaskMs)
}
object Totals {
  val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

final class Attribution(spans: Seq[Span], rec: Recorder) {
  private val children = spans.groupBy(_.parent)
  private val stageIv = rec.stages.asScala.toSeq
    .map(s => (s.submitMs, s.completeMs)).sortBy(_._1)

  /** Innermost span open at `t` (ms), if any. Top-level spans are
    * sequential, so a binary search finds the top span and the (shallow)
    * child lists are walked from there. */
  private val tops = spans.filter(_.parent < 0).sortBy(_.startMs).toArray
  private def innermost(t: Long): Option[Span] = {
    var lo = 0; var hi = tops.length - 1; var hit = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tops(mid).startMs <= t) { hit = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (hit < 0 || tops(hit).endMs < t) None
    else {
      var cur = tops(hit)
      var deeper = true
      while (deeper) {
        children.getOrElse(cur.id, Nil)
          .find(c => c.startMs <= t && t <= c.endMs) match {
          case Some(c) => cur = c
          case None => deeper = false
        }
      }
      Some(cur)
    }
  }

  /** Per-span self totals (records attributed to the innermost span). */
  val self: Map[Int, Totals] = {
    val acc = mutable.HashMap.empty[Int, Totals].withDefaultValue(Totals.zero)
    def add(t: Long, v: Totals): Unit =
      innermost(t).foreach(s => acc(s.id) = acc(s.id) + v)
    rec.jobStarts.asScala.foreach(t => add(t, Totals.zero.copy(jobs = 1)))
    rec.stages.asScala.foreach(s => add(s.submitMs, Totals.zero.copy(stages = 1)))
    rec.tasks.asScala.foreach { k =>
      add(k.launchMs, Totals.zero.copy(tasks = 1, taskMs = k.runMs,
        gcMs = k.gcMs, shuffleReadB = k.shuffleReadB,
        shuffleWriteB = k.shuffleWriteB, spillB = k.spillB,
        recordsRead = k.recordsRead, recordsWritten = k.recordsWritten,
        bytesWritten = k.bytesWritten,
        scanTaskMs = if (k.recordsRead > 0) k.runMs else 0L))
    }
    rec.progress.asScala.foreach { p =>
      add(p.atMs, Totals.zero.copy(microbatches = 1, triggerMs = p.triggerMs,
        walMs = p.walMs, planningMs = p.planningMs))
    }
    acc.toMap
  }

  /** Totals of a span and everything nested in it. */
  def inclusive(s: Span): Totals =
    children.getOrElse(s.id, Nil).foldLeft(self.getOrElse(s.id, Totals.zero))(
      (t, c) => t + inclusive(c))

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs(s: Span): Double =
    s.durNs / 1e6 - children.getOrElse(s.id, Nil).map(_.durNs / 1e6).sum

  /** Milliseconds of a span during which no stage was running. */
  def outsideStageMs(s: Span): Double = {
    var covered = 0L; var cursor = s.startMs
    stageIv.foreach { case (a, b) =>
      val lo = math.max(a, cursor); val hi = math.min(b, s.endMs)
      if (hi > lo) { covered += hi - lo; cursor = hi }
    }
    math.max(0.0, s.durNs / 1e6 - covered)
  }
}
