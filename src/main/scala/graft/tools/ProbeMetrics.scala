package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Listener-bus measurement plumbing for [[graft.Bench]]'s per-query
  * shuffle attribution and the tests' `graft.JobCount`.
  *
  * Task-level shuffle-write counter: an action like count() runs its own
  * QueryExecution, so plan-node SQL metrics on the measured DataFrame stay
  * zero — a listener summing what the tasks actually wrote measures the
  * real exchange volume regardless of which QueryExecution ran.
  */
object ProbeMetrics {

  /** Records + bytes written, for the bench board's per-query attribution
    * (r19 verdict: task-measured shuffle records are THE noise-vs-signal
    * discriminator — identical counts mean identical plans, so any wall
    * delta is ambient).
    */
  final class ShuffleFullCounter extends SparkListener {
    val records = new AtomicLong(0L)
    val bytes = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
  }

  /** Block until the async listener bus has delivered everything queued —
    * so a per-query counter reads exactly its own query's task events with
    * no fixed sleep (2 s × 164 board queries would cost 5+ untimed
    * minutes). `LiveListenerBus.waitUntilEmpty` is private[spark]
    * (test-only but stable across 3.x/4.x), hence reflection; falls back
    * to the old fixed sleep if the private surface ever moves.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods.find(m =>
        m.getName == "waitUntilEmpty" && m.getParameterCount == 1 &&
          m.getParameterTypes()(0) == java.lang.Long.TYPE)
        .orElse(bus.getClass.getMethods.find(m =>
          m.getName == "waitUntilEmpty" && m.getParameterCount == 0))
        .getOrElse(throw new NoSuchMethodException("waitUntilEmpty"))
      if (m.getParameterCount == 1) m.invoke(bus, Long.box(timeoutMs))
      else m.invoke(bus)
      ()
    } catch { case _: Throwable => Thread.sleep(2000) }
}
