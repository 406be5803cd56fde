package kgbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level totals attributed to one job group. */
final class TaskTotals {
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  val runMs = mutable.ArrayBuffer[Long]()
  val stages = mutable.Set[Int]()
  val jobs = mutable.Set[Int]()
  /** (start, end) wall-clock ms of every finished job of the group. */
  val jobWindows = mutable.ArrayBuffer[(Long, Long)]()

  /** Longest task over the median task (median floored at 1 ms, so a
   *  stage of near-empty tasks does not divide by zero). */
  def taskSkew: Double =
    if (runMs.isEmpty) 0.0
    else runMs.max / math.max(1.0, Stats.median(runMs.map(_.toDouble).toSeq))
}

/** Attributes every finished task to the job group that launched its
 *  stage. The benchmark sets one job group per span (or per job when
 *  untraced), so totals are per span without touching the program. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()

  private def of(group: String) = totals.computeIfAbsent(group, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
    if (g.nonEmpty) {
      jobGroup.put(e.jobId, g)
      jobStartMs.put(e.jobId, e.time)
      val t = of(g)
      t.synchronized { t.jobs += e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      val t = of(g)
      t.synchronized { t.jobWindows += (jobStartMs.remove(e.jobId) -> e.time) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrDefault(e.stageId, "")
    if (g.isEmpty) return // launched outside every span and job: charged to none
    val t = of(g)
    t.synchronized {
      t.tasks += 1
      if (m.inputMetrics.recordsRead == 0L && m.shuffleReadMetrics.recordsRead == 0L)
        t.emptyTasks += 1
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
      t.runMs += m.executorRunTime
      t.stages += e.stageId
    }
  }

  /** Drains the listener bus (every task event posted before this call has
   *  then been seen), then returns and forgets the group's totals. */
  def take(sc: SparkContext, group: String): TaskTotals = {
    org.apache.spark.KgbenchBus.drain(sc)
    Option(totals.remove(group)).getOrElse(new TaskTotals)
  }
}

/** How far the heap in use right after a collection rose, across all
 *  collections since the last reset, above the heap left by the collection
 *  that reset it (GC notifications; executors share the driver JVM in local
 *  mode). Measuring from that baseline leaves out what earlier jobs left
 *  for Spark's cleaner to drop. Only the heap pools count, never Metaspace,
 *  the code cache or the class space. The JVM runs with a fixed young
 *  generation (run.py), so a job sees several collections. */
object HeapPeak {
  private var base = 0L
  private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Collect, then measure from the heap left after that. */
  def reset(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).map(_.getUsage.getUsed).sum
    HeapPeak.synchronized { base = used; peak = used }
  }

  def riseBytes: Long = HeapPeak.synchronized(peak - base)
}

/** One recorded span: wall-clock nanos relative to the tracer's origin. */
final case class SpanRec(id: Int, name: String, parent: Int, job: Int,
                         startNs: Long, endNs: Long, totals: TaskTotals) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Each span runs under its own Spark job group
 *  (restoring the enclosing span's group after), so the listener charges
 *  each task to the innermost open span. Spans are kept in memory and
 *  written out once, at the end of the run. */
final class Tracer(sc: SparkContext, listener: GroupListener) {
  private val origin = System.nanoTime()
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[SpanRec]()
  var job = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val group = s"kgbench-span-$id"
    sc.setJobGroup(group, name)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"kgbench-span-$p", "")
        case None => sc.clearJobGroup()
      }
      spans += SpanRec(id, name, parent, job, t0 - origin, t1 - origin,
        listener.take(sc, group))
    }
  }

  def children(s: SpanRec): Seq[SpanRec] = spans.filter(_.parent == s.id).toSeq

  def selfNs(s: SpanRec): Long =
    Stats.selfTime(s.startNs, s.endNs, children(s).map(c => (c.startNs, c.endNs)))

  def toJsonLines: Seq[String] = spans.map { s =>
    val t = s.totals
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "self_ms" -> selfNs(s) / 1e6, "tasks" -> t.tasks,
      "task_cpu_ms" -> t.cpuNs / 1e6, "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "spill_bytes" -> t.spillBytes, "peak_exec_bytes" -> t.peakExecBytes,
      "spark_jobs" -> t.jobs.size, "spark_stages" -> t.stages.size)
  }.toSeq
}
