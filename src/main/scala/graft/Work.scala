package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The work one run of an action did: wall seconds, the counters one
  * SparkListener saw, and CPU seconds of the executor tasks plus the
  * calling thread (driver-side work such as eager collects and fixpoint
  * loops runs there).
  */
case class Work(wallS: Double, counters: Map[String, Long], cpuS: Double)

object Work {
  val CounterNames = Seq("jobs", "stages", "tasks", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes")

  /** Sums what the listener bus reports between two [[take]] calls. */
  final class Listener extends SparkListener {
    private val n = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var cpuNs = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { n("jobs") += 1 }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { n("stages") += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      n("tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        n("input_records") += m.inputMetrics.recordsRead
        n("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        n("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        cpuNs += m.executorCpuTime
      }
    }
    /** The counters and executor CPU nanoseconds since the last call. */
    def take(): (Map[String, Long], Long) = synchronized {
      val r = (CounterNames.map(k => k -> n(k)).toMap, cpuNs)
      n.clear(); cpuNs = 0L
      r
    }
  }

  /** Runs `f` once; `l` must be on the session's listener bus. The bus is
    * drained before and after, so the counters are exactly `f`'s.
    */
  def measure(spark: SparkSession, l: Listener)(f: => Unit): Work = {
    val thread = java.lang.management.ManagementFactory.getThreadMXBean
    org.apache.spark.ListenerBusDrain(spark.sparkContext); l.take()
    val (t0, c0) = (System.nanoTime(), thread.getCurrentThreadCpuTime)
    f
    val wall = (System.nanoTime() - t0) / 1e9
    val own = thread.getCurrentThreadCpuTime - c0
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val (counters, execNs) = l.take()
    Work(wall, counters, (execNs + own) / 1e9)
  }
}
