package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own task metrics, summed for one label. */
final class LabelTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: LabelTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    taskIntervals ++= o.taskIntervals; jobIntervals ++= o.jobIntervals
  }
}

object LayerListener {
  /** Local property naming the span that submitted a job. Spark copies it
    * into every job's properties (also for broadcast and AQE stage jobs),
    * so stages are labelled by the span in flight when they were submitted,
    * whatever the delay of the asynchronous listener bus. */
  val SpanKey = "graftbench.span"
}

/** One job as the listener saw it: the span that submitted it, its call site
  * (Spark's long form: the stack of the program's frames that started the
  * job, innermost first) and its metrics. */
final class JobRecord(val jobId: Int, val label: String, val site: String, val startMs: Long) {
  var endMs: Long = startMs
  val totals = new LabelTotals
}

/** Labels jobs, stages and tasks with the benchmark span that submitted them
  * and sums their metrics per label and per job; also tracks the bytes held
  * by persisted and checkpointed RDD blocks. Callbacks run on the
  * listener-bus thread; readers call [[take]] after
  * [[org.apache.spark.BenchBus.drain]]. */
final class LayerListener extends SparkListener {
  import LayerListener.SpanKey
  private val totals = mutable.HashMap.empty[String, LabelTotals]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  private def of(label: String) = totals.getOrElseUpdate(label, new LabelTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse("unlabelled")
    of(label).jobs += 1
    jobStart(e.jobId) = (label, e.time)
    // the job's final stage is the newest one; its details are the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val job = new JobRecord(e.jobId, label, site, e.time)
    job.totals.jobs += 1
    jobs(e.jobId) = job
    e.stageIds.foreach { id =>
      if (!stageLabel.contains(id)) stageLabel(id) = label
      if (!stageJob.contains(id)) stageJob(id) = job
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (label, t0) => of(label).jobIntervals += ((t0, e.time)) }
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.totals.jobIntervals += ((j.startMs, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageLabel.getOrElse(e.stageInfo.stageId, "unlabelled")).stages += 1
    stageJob.get(e.stageInfo.stageId).foreach(_.totals.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val owners = Seq(of(stageLabel.getOrElse(e.stageId, "unlabelled"))) ++
      stageJob.get(e.stageId).map(_.totals)
    owners.foreach { t =>
      t.tasks += 1
      t.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        t.taskCpuNs += m.executorCpuTime
        t.taskRunMs += m.executorRunTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.diskBytesSpilled
        t.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(id, 0L)
      if (size > 0) blocks(id) = size else blocks.remove(id)
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  /** Totals per label and the jobs since the last call, and the peak of
    * cached RDD bytes over the same interval; resets all three. */
  def take(): (Map[String, LabelTotals], Seq[JobRecord], Long) = synchronized {
    val out = (totals.toMap, jobs.values.toSeq, cachedPeak)
    totals.clear()
    jobs.clear()
    stageJob.clear()
    cachedPeak = cached
    out
  }
}

/** One recorded span: a public graft call (or a whole pass), its nesting
  * path and its driver-side wall interval. */
final case class Span(path: String, startMs: Long, endMs: Long, wallNs: Long)

/** Records spans in memory. A span sets the label that [[LayerListener]]
  * attaches to every job submitted inside it; nested spans get a
  * '/'-joined path, so a parent's totals include its children's. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val parent = Option(sc.getLocalProperty(LayerListener.SpanKey))
    val path = parent.map(p => s"$p/$name").getOrElse(name)
    sc.setLocalProperty(LayerListener.SpanKey, path)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      spans += Span(path, t0, System.currentTimeMillis(), System.nanoTime() - n0)
      sc.setLocalProperty(LayerListener.SpanKey, parent.orNull)
    }
  }
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** JVM-wide probes: process CPU time, GC time, and the largest heap in use
  * right after a collection (heap pools only), fed by GC notifications. */
final class JvmProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakAfterGc = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            JvmProbe.this.synchronized { peakAfterGc = math.max(peakAfterGc, used) }
          }
      }, null, null)
    case _ => ()
  }

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the JIT compiler threads ("C1/C2 CompilerThreadN"), from
    * /proc/self/task: the JVM hides them from ThreadMXBean, and the
    * CompilationMXBean's total is elapsed time, which CPU steal inflates.
    * 0 where /proc is absent. */
  def jitCpuNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.toSeq.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * JvmProbe.NsPerTick // utime + stime
        }
      } catch { case _: java.io.IOException | _: RuntimeException => 0L } // thread exited
    }.sum
  }

  /** Peak live heap after a GC since the last reset, in bytes. */
  def heapPeak: Long = synchronized(peakAfterGc)

  /** Full collection, then start a new peak window: every pass starts from
    * the same retained heap, so GC work of one pass is not billed to the next. */
  def collectAndReset(): Unit = {
    System.gc()
    synchronized { peakAfterGc = 0L }
  }
}

object JvmProbe {
  /** /proc reports CPU in clock ticks, USER_HZ = 100 on Linux. */
  val NsPerTick = 10000000L
}

object Layer {
  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Totals of the labels at `path` and below it. */
  def under(totals: Map[String, LabelTotals], path: String): LabelTotals = {
    val t = new LabelTotals
    totals.foreach { case (label, x) => if (label == path || label.startsWith(path + "/")) t.add(x) }
    t
  }
}

/** A pass as measured with the listener attached: the wall interval plus the
  * label totals and JVM deltas over it. */
final case class PassLayers(startMs: Long, endMs: Long, wallNs: Long,
    totals: Map[String, LabelTotals], jobs: Seq[JobRecord], cachePeakBytes: Long, gcMs: Long) {
  def all: LabelTotals = {
    val t = new LabelTotals
    totals.values.foreach(t.add)
    t
  }

  /** The pass-wide layer metrics (every label of the pass). */
  def passMetrics: Map[String, Double] = {
    val t = all
    val wallMs = endMs - startMs
    Map(
      "scan.input_rows" -> t.inputRecords.toDouble,
      "exchange.shuffle_write_mb" -> Layer.mb(t.shuffleWriteBytes),
      "exchange.shuffle_records" -> t.shuffleWriteRecords.toDouble,
      "exchange.spill_mb" -> Layer.mb(t.spillBytes),
      "sched.jobs" -> t.jobs.toDouble,
      "sched.stages" -> t.stages.toDouble,
      "sched.tasks" -> t.tasks.toDouble,
      "sched.idle_s" -> (wallMs - Intervals.covered(t.taskIntervals, startMs, endMs)) / 1000.0,
      "task.cpu_s" -> t.taskCpuNs / 1e9,
      "task.run_s" -> t.taskRunMs / 1000.0,
      "jvm.gc_s" -> gcMs / 1000.0,
      "cache.peak_mb" -> Layer.mb(cachePeakBytes))
  }
}
