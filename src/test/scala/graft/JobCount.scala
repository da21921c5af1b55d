package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.tools.ProbeMetrics

/** Counts the Spark jobs a block of driver code submits. */
object JobCount {
  /** `body`'s result and the number of jobs started while it ran (the
    * listener bus is drained on both sides, so no event is missed or
    * carried over).
    */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ProbeMetrics.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ProbeMetrics.drainListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
