package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._

/** Process-level probes read from /proc and the JVM's management beans. */
object Proc {

  /** (user, sys) CPU seconds of this JVM: fields 14/15 of /proc/self/stat,
    * counted after the `)` that closes the command name; USER_HZ = 100.
    */
  def cpu(): (Double, Double) = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (rest(11).toDouble / 100.0, rest(12).toDouble / 100.0)
  }

  /** CPU seconds the hypervisor gave to other guests while the machine's
    * CPUs wanted to run (the `steal` column of /proc/stat, all CPUs).
    */
  def stealSeconds(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+")(8).toDouble / 100.0

  /** One-minute load average. */
  def load1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble

  /** Milliseconds since this JVM started. */
  def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Accumulated collection time of every collector, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Peak heap occupancy right after a collection: the sum of the heap pools'
  * post-GC usage, maximised over the GC notifications since [[reset]]. It
  * tracks data the program keeps alive, not how often the collector runs.
  */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        ()
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Collect, then start a fresh window at the live heap left behind. */
  def reset(): Unit = {
    System.gc()
    peak.set(heapPools.toSeq.flatMap(p => ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == p)).map(_.getUsage.getUsed).sum)
  }

  /** Wait for the post-GC notifications of the window to arrive, then read it. */
  def peakMb(): Double = { Thread.sleep(50L); peak.get / 1048576.0 }
}

/** Peak of the heap Spark's memory manager holds (cached blocks plus task
  * buffers), sampled every 5 ms by a daemon thread between [[start]] and
  * [[stop]]. Unlike post-GC heap occupancy it does not depend on when the
  * collector happens to run.
  */
object ManagedWatch {
  @volatile private var running = false
  private val peak = new AtomicLong(0L)
  private var thread: Thread = _

  def start(): Unit = {
    peak.set(org.apache.spark.PerfbenchAccess.managedHeapUsed())
    running = true
    thread = new Thread(() => while (running) {
      val used = org.apache.spark.PerfbenchAccess.managedHeapUsed()
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      Thread.sleep(5L)
    }, "perfbench-managed-watch")
    thread.setDaemon(true)
    thread.start()
  }

  /** Stop sampling; returns the peak in MiB. */
  def stop(): Double = {
    running = false
    thread.join()
    peak.get / 1048576.0
  }
}

/** Spark runtime counters from the listener bus: jobs, stages, tasks, task
  * CPU, shuffle and spill bytes, and the wall-clock spans of jobs (for the
  * driver-only time). All counters are cumulative; callers take deltas.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStart.put(e.jobId, e.time); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
    ()
  }

  def snapshot(): Seq[Long] =
    Seq(jobs, stages, tasks, taskCpuNs, shuffleWrite, shuffleRead, spill).map(_.get)

  /** Milliseconds of [t0, t1] covered by at least one job span. */
  def jobCoveredMs(t0: Long, t1: Long): Long = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** In-memory trace spans (name, start, end, parent), written once at the end. */
final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val t0 = System.nanoTime()
  private var stack = List.empty[String]

  def apply[T](name: String)(body: => T): T = {
    val parent = stack.headOption.orNull
    val s = System.nanoTime()
    stack = name :: stack
    try body
    finally {
      stack = stack.tail
      buf += Map("name" -> name, "start_s" -> (s - t0) / 1e9,
        "end_s" -> (System.nanoTime() - t0) / 1e9, "parent" -> parent)
    }
  }

  def toSeq: Seq[Map[String, Any]] = buf.toSeq
}
