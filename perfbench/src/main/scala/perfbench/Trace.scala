package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Clock shared by spans and Spark's listener events: epoch milliseconds
  * with sub-millisecond resolution (Spark stamps tasks and jobs in epoch ms).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, traceId: Int,
                      start: Double, var end: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** In-memory span recorder. Spans are opened around layer calls by the
  * harness only; the program is not instrumented. Disabled, `span` is a
  * plain call.
  */
object Trace {
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = 0

  def newTrace(): Unit = synchronized { traceId += 1 }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          traceId, Clock.nowMs)
        spans += sp; stack ::= sp; sp
      }
      try f finally synchronized { s.end = Clock.nowMs; stack = stack.tail }
    }

  /** Self time per span: its duration minus the time covered by children. */
  def selfMs(): Map[Int, Double] = {
    val sub = spans.filter(!_.end.isNaN)
    val childTime = sub.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    sub.map(s => s.id -> (s.dur - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Innermost span open at time t (latest start among those covering t). */
  def innermostAt(t: Double): Option[Span] = {
    var best: Option[Span] = None
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.start <= t && (s.end.isNaN || t <= s.end) &&
          best.forall(_.start <= s.start)) best = Some(s)
      i += 1
    }
    best
  }
}

final case class TaskRec(launch: Double, runMs: Long, cpuMs: Double, gcMs: Long,
                         schedDelayMs: Double, inBytes: Long, inRecords: Long,
                         shWrite: Long, shRead: Long, spill: Long, failed: Boolean)
final case class JobRec(jobId: Int, start: Double, var end: Double = Double.NaN)

/** Engine counters from Spark's own listener bus. Events are kept raw
  * and assigned to spans afterwards by time window: jobs that the
  * program submits from its own thread pools (tier landing, codec writes,
  * stream execution threads) carry no local property of the caller, so
  * job groups cannot attribute them.
  */
class CounterListener extends SparkListener {
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  /** Submission times of stages. */
  val stages = ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time.toDouble)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = !i.successful
    if (m == null)
      tasks += TaskRec(i.launchTime.toDouble, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else {
      val run = m.executorRunTime
      val deser = m.executorDeserializeTime
      val ser = m.resultSerializationTime
      val wall = i.finishTime - i.launchTime
      tasks += TaskRec(i.launchTime.toDouble, run, m.executorCpuTime / 1e6, m.jvmGCTime,
        math.max(0L, wall - run - deser - ser - i.gettingResultTime).toDouble,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, failed || i.attemptNumber > 0)
    }
  }

  /** Counters of every task launched in [from, to]. */
  def window(from: Double, to: Double): Counters = synchronized {
    val ts = tasks.filter(t => t.launch >= from && t.launch <= to)
    val js = jobs.filter(j => j.start >= from && j.start <= to)
    Counters(
      jobs = js.size,
      stages = stages.count(s => s >= from && s <= to),
      tasks = ts.size,
      runMs = ts.map(_.runMs).sum.toDouble,
      cpuMs = ts.map(_.cpuMs).sum,
      gcMs = ts.map(_.gcMs).sum.toDouble,
      schedDelayMs = ts.map(_.schedDelayMs).sum,
      inBytes = ts.map(_.inBytes).sum.toDouble,
      inRecords = ts.map(_.inRecords).sum.toDouble,
      shWrite = ts.map(_.shWrite).sum.toDouble,
      shRead = ts.map(_.shRead).sum.toDouble,
      spill = ts.map(_.spill).sum.toDouble,
      failures = ts.count(_.failed),
      jobBusyMs = unionMs(js.toSeq.map(j => (math.max(j.start, from),
        math.min(if (j.end.isNaN) to else j.end, to)))))
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class Counters(jobs: Int, stages: Int, tasks: Int, runMs: Double,
                          cpuMs: Double, gcMs: Double, schedDelayMs: Double,
                          inBytes: Double, inRecords: Double, shWrite: Double,
                          shRead: Double, spill: Double, failures: Int,
                          jobBusyMs: Double)
