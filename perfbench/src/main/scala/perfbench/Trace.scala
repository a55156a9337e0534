package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark counters summed over the tasks of every job a span started. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** (launch, finish) epoch-ms of every task, for the busy-time union. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** One layer call: spans of one run share `run`; `parent` is 0 at the
  * top. Times are epoch ms (to line up with task times) and ns. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine, and a
  * `SparkListener` that collects every job, stage and task while tracing is
  * on. The client is one thread that waits for each call, so a job belongs
  * to the innermost span open when it started. Spans stay in memory; the
  * run writes them out once when it ends.
  *
  * While tracing is off, `span` runs the body and records nothing, and the
  * listener is not registered, so an untraced operation pays nothing.
  */
final class Tracer(sc: SparkContext, val run: String) extends SparkListener {
  private final case class Job(start: Long, stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  /** Stage → counters of its tasks; a stage belongs to the first job that
    * ran it (later jobs only skip it). */
  private val stages = new ConcurrentHashMap[Int, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 1L
  private var enabled = false

  def on(): Unit = if (!enabled) { sc.addSparkListener(this); enabled = true }
  def off(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this); enabled = false
  }
  def isOn: Boolean = enabled

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, open.headOption.map(_.id).getOrElse(0L), run,
        System.currentTimeMillis(), System.nanoTime())
      nextId += 1
      spans += s
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.time, e.stageIds))
    e.stageIds.foreach { st =>
      stageOwner.putIfAbsent(st, e.jobId)
      stages.putIfAbsent(st, new Counters)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(c => c.synchronized { c.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { c =>
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
        }
      }
    }

  /** The innermost span open at epoch-ms `t`. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).lastOption

  /** Counters of the jobs that started in this span and not in one of its
    * children. Read them after `off()`, once every event is delivered. */
  def countersOf(s: Span): Counters = {
    val out = new Counters
    jobs.forEach { (id, j) =>
      if (spanAt(j.start).exists(_.id == s.id)) {
        out.jobs += 1
        j.stages.filter(st => stageOwner.get(st) == id).foreach { st =>
          val c = stages.get(st)
          c.synchronized {
            out.stages += c.stages; out.tasks += c.tasks
            out.failedTasks += c.failedTasks; out.cpuNs += c.cpuNs
            out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
            out.spill += c.spill; out.taskIntervals ++= c.taskIntervals
          }
        }
      }
    }
    out
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  /** Wall ms of the span during which none of its tasks was running:
    * query planning and job scheduling. */
  def nonTaskMs(s: Span): Double = {
    val clipped = countersOf(s).taskIntervals.toList
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    s.seconds * 1000.0 - busy
  }

  /** Every span as one JSON document, with its counters and self time. */
  def toJson: String = {
    val rows = spans.map { s =>
      val c = countersOf(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
        s""""self_seconds":${selfSeconds(s)},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"failed_tasks":${c.failedTasks},""" +
        s""""task_cpu_s":${c.cpuNs / 1e9},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"spill_bytes":${c.spill},""" +
        s""""non_task_ms":${nonTaskMs(s)}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}
