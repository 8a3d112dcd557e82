package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task totals of one job group (one layer span). */
final class GroupStats {
  var jobs = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val shuffleReads = mutable.ArrayBuffer.empty[Long]
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Length of the union of task [launch, finish] intervals, in seconds. */
  def busyUnionS: Double = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- busy.sortBy(_._1)) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1e3
  }
}

/** Groups task metrics by the job group set around each layer call. In local
  * mode the driver and executors share this JVM, so CPU comes from the task
  * metrics and GC from the JVM's collectors over the span. */
final class LayerListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, GroupStats]
  private var drained = Set.empty[String]

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = group(e.properties).foreach { g =>
    synchronized { groups.getOrElseUpdate(g, new GroupStats).jobs += 1 }
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    if (g != null && g.startsWith(Tracer.DrainPrefix)) synchronized { drained += g }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g == null || m == null) return
    synchronized {
      val s = groups.getOrElseUpdate(g, new GroupStats)
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      val read = m.shuffleReadMetrics.totalBytesRead
      if (read > 0) s.shuffleReads += read
      s.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  def stats(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))

  def isDrained(marker: String): Boolean = synchronized(drained.contains(marker))
}

/** Spans around calls into the engine's layers, timed from the benchmark. */
final class Tracer(sc: SparkContext) {
  val listener = new LayerListener
  sc.addSparkListener(listener)
  private var drains = 0

  final case class Span(name: String, wallS: Double, gcS: Double, rowsOut: Long)

  /** Runs `body` under job group `name`; `body` returns the layer's output
    * row count (it forces the layer's output). */
  def span(name: String)(body: => Long): Span = {
    sc.setJobGroup(name, name)
    val gc0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    try {
      val rows = body
      Span(name, (System.nanoTime() - t0) / 1e9, (Tracer.gcMs() - gc0) / 1e3, rows)
    } finally sc.clearJobGroup()
  }

  /** Waits until the listener has seen every event posted so far: a tiny job
    * in its own group, whose end event arrives after all earlier events. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    drains += 1
    val marker = s"${Tracer.DrainPrefix}$drains"
    sc.setJobGroup(marker, marker)
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.isDrained(marker) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Tracer {
  val DrainPrefix = "__drain"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}
