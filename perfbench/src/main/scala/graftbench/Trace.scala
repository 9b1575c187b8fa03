package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the engine, plus a
  * SparkListener for job, stage and task metrics. Everything is kept in
  * memory and summarised when the run ends. When tracing is off, `span`
  * only runs its body and no listener is registered. */
final class Trace(val on: Boolean, sc: SparkContext) {
  import Trace.Span
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val reqOf = new ThreadLocal[Long] { override def initialValue() = -1L }

  val listener: Option[Listener] =
    if (on) { val l = new Listener; sc.addSparkListener(l); Some(l) } else None

  /** Tag the calling thread's Spark jobs with a phase and a request id
    * (read back from the job properties by the listener). */
  def tag(phase: String, req: Long = -1L): Unit = if (on) {
    sc.setLocalProperty(Trace.PhaseKey, phase)
    sc.setLocalProperty(Trace.ReqKey, req.toString)
    reqOf.set(req)
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, reqOf.get(), name, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  /** Self time per span name: total duration minus the part covered by
    * child spans, in ms, with the span count. */
  def selfTimes: Seq[(String, Long, Double, Double)] = {
    import scala.jdk.CollectionConverters._
    val all = spans.asScala.toSeq
    val childMs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => (c.end - c.start) / 1e6).sum }
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      val tot = ss.map(s => (s.end - s.start) / 1e6).sum
      val self = ss.map(s => (s.end - s.start) / 1e6 - childMs.getOrElse(s.id, 0.0)).sum
      (n, ss.size.toLong, tot, self)
    }.sortBy(-_._3)
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
                        start: Long, end: Long)
  val PhaseKey = "graftbench.phase"
  val ReqKey = "graftbench.req"
}

/** Job, stage and task records, attributed to a phase and request through
  * the job's local properties (or the streaming job group). */
object Listener {
  final case class Job(id: Int, phase: String, req: Long, group: String,
                       start: Long, stages: Seq[Int]) { @volatile var end: Long = -1L }
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, durMs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        input: Long)
}

final class Listener extends SparkListener {
  import Listener._
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[(Int, Task)]() // (jobId, task)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String): String = if (p == null) null else p.getProperty(k)
    val phase = Option(prop(Trace.PhaseKey)).getOrElse("")
    val req = Option(prop(Trace.ReqKey)).map(_.toLong).getOrElse(-1L)
    val group = Option(prop("spark.jobGroup.id")).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, phase, req, group, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val jobId = stageJob.getOrDefault(e.stageId, -1)
      tasks.add(jobId -> Task(e.stageId, m.executorRunTime, m.executorCpuTime, e.taskInfo.duration,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }

  /** Wait until every started job has ended and the task count is stable
    * (listener events arrive asynchronously). */
  def settle(): Unit = {
    import scala.jdk.CollectionConverters._
    var last = -1
    var stable = 0
    val deadline = System.nanoTime() + 10000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = tasks.size()
      val open = jobs.values().asScala.exists(_.end < 0)
      if (n == last && !open) stable += 1 else stable = 0
      last = n
    }
  }

  def jobsWhere(f: Job => Boolean): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.filter(f).toSeq.sortBy(_.id)
  }
  def tasksOf(js: Seq[Job]): Seq[Task] = {
    import scala.jdk.CollectionConverters._
    val ids = js.map(_.id).toSet
    tasks.asScala.filter(t => ids.contains(t._1)).map(_._2).toSeq
  }
}
