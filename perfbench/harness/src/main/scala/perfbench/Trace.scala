package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One span: a call into a layer, timed from the benchmark's side.
  * Times are ms since the harness clock origin. */
final case class Span(name: String, start: Double, end: Double,
                      parent: String, op: String) {
  def ms: Double = end - start
}

/** In-memory span log; written out once, when the run ends. */
final class Spans(clock: () => Double) {
  private val q = new ConcurrentLinkedQueue[Span]()
  def apply[T](name: String, op: String, parent: String = "")(f: => T): T = {
    val t0 = clock()
    try f finally q.add(Span(name, t0, clock(), parent, op))
  }
  def all: Seq[Span] = q.asScala.toSeq
}

/**
 * Spark event counts for the traced run. Events carry their own
 * timestamps, so a region is cut by time after the fact; a job's
 * `spark.jobGroup.id` attributes its stages and tasks to the span that
 * set the group around the call.
 */
final class Counts extends SparkListener {
  final case class Job(group: String, start: Long, var end: Long)
  final case class Task(finish: Long, runMs: Long, shuffleWrite: Long,
                        spill: Long, schedDelay: Long)

  private val lock = new Object
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageSubmit = scala.collection.mutable.HashMap.empty[Int, Long]
  private val tasks = scala.collection.mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(group, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    tasks += Task(info.finishTime, m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      stageSubmit.get(e.stageId).map(info.launchTime - _).getOrElse(0L))
  }

  /** Counts over epoch-ms window [t0, t1]. */
  final case class Window(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
                          shuffleBytes: Long, spillBytes: Long,
                          schedDelayMs: Seq[Long], jobBusyMs: Long)

  def window(t0: Long, t1: Long): Window = lock.synchronized {
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ts = tasks.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    // union of job intervals clipped to the window: time some job ran
    val iv = js.map(j => (math.max(j.start, t0),
      math.min(if (j.end < 0) t1 else j.end, t1))).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    val stages = stageSubmit.values.count(t => t >= t0 && t <= t1)
    Window(js.size, stages, ts.size,
      ts.map(_.runMs).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.schedDelay), busy)
  }

  /** Jobs whose group is `group`. */
  def jobsIn(group: String): Int = lock.synchronized {
    jobs.values.count(_.group == group)
  }
}
