package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-only tracing: Spark and SQL listeners, JVM MXBeans and Hadoop
  * `FileSystem` statistics, attached only around traced passes. Nothing
  * inside the engine is instrumented; a traced run alternates untraced
  * and traced passes so the listeners' own cost shows as
  * `trace.overhead`.
  */
final class Tracer(spark: SparkSession) {
  private val Marker = "perfbench-drain"
  private val markerDone = new java.util.concurrent.atomic.AtomicBoolean
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val recordsRead = new AtomicLong
  private val planNs = new AtomicLong
  private val queries = new AtomicLong

  private val listener = new SparkListener {
    private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
        markerJobs.add(e.jobId)
      else jobStarts.add(e.jobId -> e.time)
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (markerJobs.remove(e.jobId)) markerDone.set(true)
      else jobEnds.add(e.jobId -> e.time)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      taskMs.addAndGet(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
      ()
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      val ph = qe.tracker.phases
      planNs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.durationMs * 1000000L)).sum)
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // totals over traced passes
  val totals: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Adds to a per-pass figure; ignored outside traced passes. */
  def add(k: String, v: Double): Unit = if (active) put(k, v)
  private def put(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v
  @volatile private var active = false
  var tracedWallS = 0.0
  var passes = 0

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def fsStats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
  private def fsSnap: (Long, Long, Long) = {
    val s = fsStats
    (s.map(_.getReadOps.toLong).sum, s.map(_.getWriteOps.toLong).sum, s.map(_.getBytesRead).sum)
  }
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Counter values at the last [[begin]]. */
  private var gc0 = 0L
  private var fs0 = (0L, 0L, 0L)
  private var heapPeakMb = 0.0

  def recordsReadNow: Long = recordsRead.get

  def begin(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gc0 = gcMs; fs0 = fsSnap
    active = true
  }

  /** Ends a traced pass; `wallS` is the pass's own timed wall. */
  def end(wallS: Double): Unit = {
    active = false
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val (r, w, b) = fsSnap
    put("fs.read_ops", (r - fs0._1).toDouble)
    put("fs.write_ops", (w - fs0._2).toDouble)
    put("fs.mb_read", (b - fs0._3) / 1048576.0)
    put("jvm.gc_s", (gcMs - gc0) / 1000.0)
    heapPeakMb = math.max(heapPeakMb,
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    // jobs: union of job intervals inside this pass
    val starts = drainQ(jobStarts).toMap
    val ends = drainQ(jobEnds).toMap
    val iv = starts.keys.toSeq.flatMap(j => ends.get(j).map(e => (starts(j), e))).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (curE < s) { busy += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += math.max(0L, curE - curS)
    val busyS = math.min(busy / 1000.0, wallS)
    put("spark.jobs", starts.size.toDouble)
    put("spark.busy_s", busyS)
    put("spark.gap_s", wallS - busyS)
    put("spark.stages", stages.getAndSet(0).toDouble)
    put("spark.tasks", tasks.getAndSet(0).toDouble)
    put("spark.task_s", taskMs.getAndSet(0) / 1000.0)
    put("spark.shuffle_mb", shuffleBytes.getAndSet(0) / 1048576.0)
    put("plan.queries", queries.getAndSet(0).toDouble)
    put("plan.s", planNs.getAndSet(0) / 1e9)
    tracedWallS += wallS
    passes += 1
    ()
  }

  def heapPeak: Double = heapPeakMb

  private def drainQ[A <: AnyRef](q: ConcurrentLinkedQueue[A]): Seq[A] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  /** Waits until the listener bus delivered every event of the pass: the
    * bus is asynchronous and FIFO, so once a marker job's end arrives,
    * everything posted before it has arrived too. The marker's own stage
    * and task are taken off the counts. */
  private def drain(): Unit = {
    markerDone.set(false)
    val sc = spark.sparkContext
    sc.setJobGroup(Marker, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!markerDone.get && System.nanoTime() < deadline) Thread.sleep(2)
    require(markerDone.get, "listener bus did not drain within 30 s")
    stages.decrementAndGet(); tasks.decrementAndGet()
    ()
  }
}
