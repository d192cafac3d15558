package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Scheduler counters summed over an interval between two marks. */
final case class Window(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskS: Double = 0, cpuS: Double = 0, gcS: Double = 0, maxTaskS: Double = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0)

/** A `SparkListener` that logs every job start, stage completion and
  * task end, so any interval of the run can be summed afterwards.
  */
final class SchedulerLog extends SparkListener {
  private final case class Task(durS: Double, runS: Double, cpuS: Double, gcS: Double,
      readB: Long, writeB: Long, spillB: Long)
  final case class Mark(jobs: Int, stages: Int, tasks: Int)

  private var jobs = 0
  private var stages = 0
  private val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += (if (m == null) Task(e.taskInfo.duration / 1e3, 0, 0, 0, 0, 0, 0)
    else Task(e.taskInfo.duration / 1e3, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def mark(): Mark = synchronized { Mark(jobs, stages, tasks.size) }

  def between(a: Mark, b: Mark): Window = synchronized {
    val ts = tasks.slice(a.tasks, b.tasks)
    Window(b.jobs - a.jobs, b.stages - a.stages, ts.size,
      ts.map(_.runS).sum, ts.map(_.cpuS).sum, ts.map(_.gcS).sum,
      if (ts.isEmpty) 0.0 else ts.map(_.durS).max,
      ts.map(_.readB).sum, ts.map(_.writeB).sum, ts.map(_.spillB).sum)
  }
}

/** One traced interval: name, start, end and the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, window: Window) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for one single-threaded traced run. Each
  * span also carries the scheduler counters of its interval; the
  * listener bus is drained at both ends so the counters are complete.
  */
final class Tracer(spark: SparkSession, val log: SchedulerLog) {
  private val done = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    drain()
    val m0 = log.mark()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      drain()
      stack = stack.tail
      done += Span(id, name, parent, t0, t1, log.between(m0, log.mark()))
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Span duration minus the time its direct children cover (children
    * of one single-threaded span never overlap).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def selfTotal(name: String): Double = named(name).map(selfSeconds).sum

  def windowOf(name: String): Window = {
    val ws = named(name).map(_.window)
    Window(ws.map(_.jobs).sum, ws.map(_.stages).sum, ws.map(_.tasks).sum,
      ws.map(_.taskS).sum, ws.map(_.cpuS).sum, ws.map(_.gcS).sum,
      (0.0 +: ws.map(_.maxTaskS)).max, ws.map(_.shuffleReadBytes).sum,
      ws.map(_.shuffleWriteBytes).sum, ws.map(_.spillBytes).sum)
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
      s""""jobs":${s.window.jobs},"tasks":${s.window.tasks},"max_task_s":${s.window.maxTaskS}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  /** Registers a fresh scheduler log on the session. */
  def attach(spark: SparkSession): Tracer = {
    val log = new SchedulerLog
    spark.sparkContext.addSparkListener(log)
    new Tracer(spark, log)
  }

  def detach(spark: SparkSession, t: Tracer): Unit =
    spark.sparkContext.removeSparkListener(t.log)
}
