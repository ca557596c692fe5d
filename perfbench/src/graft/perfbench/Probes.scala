package graft.perfbench

import graft.snapshot.{SnapshotStore, Snapshot}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark listener totals for one measured call. Read them only through
  * `snapshot`, which drains the listener bus first.
  */
final class Counters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var shuffleWrite, shuffleRead, spill, peakMem = 0L
  private val taskMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      // skew is over tasks that got rows: the Pipeline's mega-doc branch
      // runs empty tasks on inputs without mega-docs
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0)
        taskMs += m.executorRunTime
    }
  }

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      shuffleWrite = 0; shuffleRead = 0; spill = 0; peakMem = 0
      taskMs.clear()
    }
  }

  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val sorted = taskMs.sorted
      val skew =
        if (sorted.isEmpty) 0.0
        else sorted.last.toDouble / math.max(1L, Stats.medianL(sorted.toSeq))
      Counts(jobs, stages, tasks, shuffleWrite, shuffleRead, spill, peakMem, skew)
    }
  }
}

final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long,
    taskSkew: Double)

/** One span: a timed call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long)

/** In-memory span recorder. While `on` is false, `span` only runs its
  * body; the recorded spans are written out once, by `json`.
  */
final class Tracer(val runId: String) {
  var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.head
      spans += Span(id, parent, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Self time of every span name: duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def json: String = Json(Map("run" -> runId, "spans" -> spans))
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)
}

/** Highest heap in use right after a collection, over the collections
  * the JVM starts while a `measure`d body runs: every GC's
  * after-collection usage of the heap pools, as the JVM reports it in
  * its GC notifications. Nothing here starts a collection.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val runtime = ManagementFactory.getRuntimeMXBean
  // (GC start, heap used after it) and measured intervals, both in
  // milliseconds of JVM uptime
  private val gcs = ArrayBuffer.empty[(Long, Long)]
  private val windows = ArrayBuffer.empty[(Long, Long)]

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { gcs += ((gc.getStartTime, used)) }
    }

  def measure[T](body: => T): T = {
    val start = runtime.getUptime
    try body
    finally synchronized { windows += ((start, runtime.getUptime)) }
  }

  /** The peak over the measured intervals and the number of collections
    * in them, once the last notifications had time to arrive; with no
    * collection in them, the heap in use now.
    */
  def peak(): (Long, Int) = {
    Thread.sleep(200)
    val in = synchronized(gcs.filter { case (t, _) =>
      windows.exists { case (a, b) => a <= t && t <= b } }.toSeq)
    if (in.isEmpty) (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, 0)
    else (in.map(_._2).max, in.size)
  }
}

/** SnapshotStore that times every `latest` and `commit` call made on it
  * (the Job calls both once per bucket).
  */
final class TimedStore(root: String, tracer: Tracer) extends SnapshotStore(root) {
  var latestCalls = 0L
  var latestNs = 0L
  var commitNs = 0L

  override def latest: Option[Snapshot] = {
    val t0 = System.nanoTime()
    try super.latest
    finally { latestCalls += 1; latestNs += System.nanoTime() - t0 }
  }

  override def commit(bucket: Int, dataDir: String, auditDir: String,
      docs: Long, schemaJson: String): Snapshot = tracer.span("snapshot.commit") {
    val t0 = System.nanoTime()
    try super.commit(bucket, dataDir, auditDir, docs, schemaJson)
    finally commitNs += System.nanoTime() - t0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianL(xs: Seq[Long]): Long = median(xs.map(_.toDouble)).toLong

  /** Highest percentile with at least ten samples above it (0 if the
    * sample has fewer than 11 values: only the median is supported).
    */
  def supportedPercentile(n: Int): Int =
    if (n < 11) 50 else math.min(99, math.floor(100.0 * (n - 10) / n).toInt)

  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1).max(0))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
