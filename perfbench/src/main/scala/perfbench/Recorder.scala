package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own SparkListener. Counting is always on: jobs,
  * stages and shuffle-write records per operation feed the
  * work-equivalence guard. With `trace` it also keeps every job and
  * task record in memory, written out with the run record at exit.
  *
  * A stage id counts once, on its first successful completion: a stage
  * re-run after an evicted block reuses its id and would otherwise
  * count its shuffle records twice. */
final class Recorder(trace: Boolean) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val shuffleRecords = new AtomicLong
  private val seenStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val jobLog = new ConcurrentLinkedQueue[Seq[Long]]
  private val taskLog = new ConcurrentLinkedQueue[Seq[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (trace) {
      val batch = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobLog.add(Seq(e.jobId.toLong, e.time, batch))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    if (s.failureReason.isEmpty && seenStages.add(s.stageId)) {
      stages.incrementAndGet()
      val m = s.taskMetrics
      if (m != null) shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (trace && i != null && m != null) {
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      taskLog.add(Seq(e.stageId.toLong, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
        m.jvmGCTime, sw.recordsWritten, sw.bytesWritten, sw.writeTime,
        sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Counters and logs accumulated since the previous call, after the
    * listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Map[String, Any] = {
    org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    val counts = Map[String, Any](
      "jobs" -> jobs.getAndSet(0L),
      "stages" -> stages.getAndSet(0L),
      "shuffle_write_records" -> shuffleRecords.getAndSet(0L))
    if (!trace) counts
    else {
      val js = Iterator.continually(jobLog.poll()).takeWhile(_ != null).toSeq
      val ts = Iterator.continually(taskLog.poll()).takeWhile(_ != null).toSeq
      counts ++ Map("job_log" -> js, "task_log" -> ts)
    }
  }
}

/** Process-level probes read from outside the engine: Hadoop FileSystem
  * statistics for the local file scheme, JMX GC and heap pools, process
  * CPU time and peak RSS. */
object Probes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos: Long = os.getProcessCpuTime

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** (bytes read, bytes written) of the local file scheme, summed over
    * every thread of the process. */
  @annotation.nowarn("cat=deprecation")
  def fs: Seq[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Seq(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  /** Files under `dir` last modified at or after `sinceMs`: the file
    * writes of an operation that started then. Hadoop's local file
    * system keeps no operation counters (its read/write op statistics
    * stay 0), so a file created or rewritten counts as one write. */
  def written(dir: java.io.File, sinceMs: Long): Long = {
    val kids = dir.listFiles()
    if (kids == null) 0L
    else kids.map { k =>
      if (k.isDirectory) written(k, sinceMs)
      else if (k.lastModified >= sinceMs) 1L else 0L
    }.sum
  }

  /** (files, bytes) under `dir`, recursively. */
  def tree(dir: java.io.File): (Long, Long) = {
    val kids = dir.listFiles()
    if (kids == null) (0L, 0L)
    else kids.foldLeft((0L, 0L)) { case ((f, b), k) =>
      if (k.isDirectory) { val (f2, b2) = tree(k); (f + f2, b + b2) }
      else (f + 1, b + k.length)
    }
  }
}
