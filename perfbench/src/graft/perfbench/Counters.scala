package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Public counters: JVM allocation, read around each op (see
  * [[Workload.timed]]); and, read around a measured window, GC and heap
  * (management beans), Hadoop FileSystem statistics, and a SparkListener
  * for jobs and tasks. */
object Counters {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated by all live threads (JDK 17 has no process total;
    * threads that exit inside an op take their count with them). */
  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def threadAllocated(): Long = threads.getCurrentThreadAllocatedBytes

  // ---- GC -----------------------------------------------------------------

  private val gcPauses = new ConcurrentLinkedQueue[(Long, Long)]() // (end uptime ms, ms)
  locally {
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            gcPauses.add((info.getEndTime, info.getDuration))
          }
        }, null, null)
      case _ => ()
    }
  }
  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  // ---- Hadoop FileSystem statistics (scheme file) ---------------------------

  /** Bytes only: the local filesystem does not count read/write ops. */
  final case class Fs(bytesRead: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }
  @annotation.nowarn("cat=deprecation")
  def fs(): Fs = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Fs(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  // ---- Spark jobs and tasks -------------------------------------------------

  /** Jobs submitted with this local property set are the benchmark's own
    * input generation and checks, and are left out of the per-op counts. */
  val AsideProperty = "perfbench.aside"

  def aside[T](sc: SparkContext)(body: => T): T = {
    val prev = sc.getLocalProperty(AsideProperty)
    sc.setLocalProperty(AsideProperty, "1")
    try body finally sc.setLocalProperty(AsideProperty, prev)
  }

  final case class Job(submitMs: Long, aside: Boolean, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, runMs: Long, shuffleBytes: Long)

  final class JobTap extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    val events = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val aside = Option(e.properties).exists(_.getProperty(AsideProperty) != null)
      jobs.put(e.jobId, Job(e.time, aside, e.stageIds)); events.incrementAndGet(): Unit
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      events.incrementAndGet(): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
      events.incrementAndGet(): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.incrementAndGet(): Unit

    /** Wait until the listener bus has been quiet for 150 ms (at most 3 s). */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 3000000000L
      var last = -1L
      while (events.get != last && System.nanoTime() < deadline) {
        last = events.get; Thread.sleep(150)
      }
    }

    /** (jobs, tasks, task run ms, mean task wait ms, shuffle bytes) of the
      * jobs submitted in [fromMs, toMs] that were not run aside. */
    def window(fromMs: Long, toMs: Long): (Int, Int, Long, Double, Long) = {
      val js = jobs.values.asScala.filter(j => !j.aside && j.submitMs >= fromMs && j.submitMs <= toMs)
      val stages = js.flatMap(_.stages).toSet
      val ts = tasks.asScala.filter(t => stages.contains(t.stage)).toSeq
      val waits = ts.map(t => (t.launchMs - stageSubmitMs.getOrDefault(t.stage, t.launchMs)).max(0L))
      (js.size, ts.size, ts.map(_.runMs).sum,
        if (waits.isEmpty) 0.0 else waits.sum.toDouble / waits.size, ts.map(_.shuffleBytes).sum)
    }
  }

  // ---- one measured window --------------------------------------------------

  final case class Window(gcMs: Long, gcPauseMaxMs: Long,
                          heapPeakMb: Double, fs: Fs, jobs: Int, tasks: Int,
                          taskRunMs: Long, taskWaitMs: Double, shuffleBytes: Long)

  final class Meter(tap: JobTap) {
    private val t0 = System.currentTimeMillis()
    private val up0 = uptimeMs
    private val gc0 = gcMillis()
    private val fs0 = fs()
    heapPools.foreach(_.resetPeakUsage())

    def stop(): Window = {
      val gc = gcMillis() - gc0
      val fsd = fs() - fs0
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val up1 = uptimeMs
      val t1 = System.currentTimeMillis()
      tap.drain()
      val pauseMax = gcPauses.asScala.filter { case (end, _) => end >= up0 && end <= up1 }
        .map(_._2).foldLeft(0L)(_ max _)
      val (jobs, tasks, run, wait, shuffle) = tap.window(t0, t1)
      Window(gc, pauseMax, heapPeak, fsd, jobs, tasks, run, wait, shuffle)
    }
  }
}
