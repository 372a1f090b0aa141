package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. The listener is drained by a
  * marker job: the listener bus is asynchronous and FIFO, so once the
  * marker's end arrives, every earlier event has too.
  */
object SparkJobs {

  /** Spark jobs `body` launches, and its result. */
  def during[T](spark: SparkSession)(body: => T): (Int, T) = {
    val marker = "spark-jobs-spec-drain"
    val jobs = new AtomicInteger
    val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerIds.add(e.jobId)
        else jobs.incrementAndGet()
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.remove(e.jobId)) drained.set(true)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!drained.get && System.nanoTime() < deadline) Thread.sleep(2)
      assert(drained.get, "listener bus did not drain within 30 s")
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }
}
