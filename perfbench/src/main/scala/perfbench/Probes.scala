package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans kept in memory and written when the run ends: name, start,
  * end and the span that was open when it started. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), name,
      System.nanoTime())
    spans += s
    open = s :: open
    try body
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  def all: Seq[Span] = spans.toSeq

  /** Summed seconds of the spans named `name` below `root`. */
  def total(root: Span, name: String): Double =
    under(root).filter(_.name == name).map(_.seconds).sum

  /** Summed seconds of `root`'s direct children. */
  def childSeconds(root: Span): Double =
    spans.filter(_.parent == root.id).map(_.seconds).sum

  private def under(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  def find(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** Spark counters of one pass from a benchmark-side listener: jobs,
  * tasks, shuffle read+write and sink output bytes. */
final class SparkCounters extends SparkListener {
  private var jobs, tasks, shuffle, output = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffle += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      output += m.outputMetrics.bytesWritten
    }
  }
  /** (jobs, tasks, shuffle bytes, output bytes) once the
    * listener bus has delivered every event posted so far. */
  def snap(spark: SparkSession): Vector[Long] = {
    org.apache.spark.sql.graftinternal.ListenerBusDrain
      .waitUntilEmpty(spark, 30000L)
    synchronized(Vector(jobs, tasks, shuffle, output))
  }
}

/** Largest heap in use right after a garbage collection, read from GC
  * notifications while armed: one instant's sum over the heap pools,
  * never a sum of per-pool peaks taken at different times. */
final class LiveHeap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: Object): Unit =
    if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def arm(): Unit = { synchronized { peak = 0L }; armed = true }
  /** Peak since [[arm]], in MB. */
  def disarm(): Double = {
    armed = false
    val p: Long = synchronized(peak)
    p / 1048576.0
  }
}

object Jvm {
  /** Total collection time of every collector so far, in seconds. */
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}
