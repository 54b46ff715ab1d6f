package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval on the driver thread. Times are microseconds on the
  * same epoch clock Spark stamps its job events with.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, var end: Long = -1L)

/** A Spark job, attributed to the span that was open on the driver
  * thread when the job was submitted, plus its stages' task metrics.
  */
final class JobRec(val id: Int, val span: Int, val callSite: String,
    val start: Long) {
  var end = -1L
  var tasks = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spans kept in memory, written out once at the end of the run. Spark
  * jobs and write-planning phases come from a `SparkListener` and a
  * `QueryExecutionListener` defined here, so the program under test
  * carries no instrumentation. With `enabled = false` nothing is
  * registered and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Nano) / 1000L

  /** Whether calls made now are recorded; the traced run toggles it per
    * iteration so one run yields both traced and untraced timings.
    */
  var on = false
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val jobMap = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val planMs = new ConcurrentLinkedQueue[java.lang.Long]()
  /** plan milliseconds of the queries that finished inside each span */
  val plans = mutable.HashMap[Int, Long]()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled || !on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer,
        nowUs)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      if (layer == "sink") { Bus.drain(sc); planMs.clear() }
      try body
      finally {
        s.end = nowUs
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
        // the queries that finished inside a sink span are its write
        if (layer == "sink") {
          Bus.drain(sc)
          plans(s.id) = Iterator.continually(planMs.poll()).takeWhile(_ != null)
            .map(_.longValue).sum
        }
      }
    }

  def jobs: Seq[JobRec] = { Bus.drain(sc); jobMap.synchronized(jobMap.values.toSeq) }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        val j = new JobRec(e.jobId, id.toInt, site, e.time * 1000L)
        jobMap.synchronized {
          jobMap(e.jobId) = j
          e.stageIds.foreach(stageJob(_) = j)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobMap.synchronized(jobMap.get(e.jobId).foreach(_.end = e.time * 1000L))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobMap.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach { j =>
          j.tasks += e.stageInfo.numTasks
          Option(e.stageInfo.taskMetrics).foreach { m =>
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def close(): Unit = if (enabled) {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

/** CPU time the hypervisor took from this machine's virtual CPUs, from
  * the first line of `/proc/stat` (jiffies summed over all CPUs). A vCPU
  * accrues steal only while it has work to run, so over an interval a
  * share steal / (busy + steal) of the work's CPU time was lost to it.
  */
object Steal {
  /** (busy, steal) jiffies so far; (0, 0) where `/proc/stat` is missing. */
  def sample(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally f.close()
    (v(0) + v(1) + v(2) + v(5) + v(6), if (v.length > 7) v(7) else 0L)
  } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Wall seconds between two samples, less the share the hypervisor
    * stole: wall × busy / (busy + steal). Exact when one thread or all
    * CPUs are busy throughout; when a stolen CPU holds back a parallel
    * stage, it removes less than the stage lost.
    */
  def net(wall: Double, from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (stolen <= 0 || busy + stolen <= 0) wall else wall * busy / (busy + stolen)
  }
}

/** Heap and collection figures from the JVM's own management beans. A
  * listener on the collectors keeps the largest old-generation occupancy
  * after any collection, young, mixed or full, that starts after `reset`.
  */
object Heap {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def collections: Long = gcs.map(_.getCollectionCount).filter(_ > 0).sum
  @volatile private var seen = 0L
  @volatile private var sinceMs = Long.MaxValue
  @volatile private var peak = 0.0

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val oldGen = info.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
      }.sum / 1048576.0
      synchronized {
        if (info.getStartTime >= sinceMs) peak = math.max(peak, oldGen)
        seen += 1
      }
    }
  gcs.collect { case e: NotificationEmitter => e.addNotificationListener(listener, null, null) }
  private val registeredAt = collections

  /** Waits (up to 2 s) for unpersisted blocks to leave the block manager,
    * then collects twice with a pause for Spark's cleaner between.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (Bus.rddBlocks() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** The most old-generation heap in use after any collection since the
    * last reset, once the listener has seen every collection so far.
    */
  def peakMb: Double = {
    val deadline = System.nanoTime() + 2000000000L
    while (seen < collections - registeredAt && System.nanoTime() < deadline) Thread.sleep(10)
    peak
  }
  def reset(): Unit = synchronized {
    peak = 0.0
    sinceMs = ManagementFactory.getRuntimeMXBean.getUptime
  }

  def gcSeconds: Double = gcs.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}
