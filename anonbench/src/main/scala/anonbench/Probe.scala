package anonbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark work attributed to one span. Times are task run times, summed
  * over tasks. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outputBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    outputBytes += o.outputBytes
  }
}

/** Listener that attributes every job, and every task of its stages, to
  * the span that was innermost on the submitting thread — the span id
  * rides Spark's thread-local job properties, which Spark copies into the
  * threads a job spawns. Work submitted outside any span lands on id 0. */
final class Counters extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, Work]

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toLong).getOrElse(0L)
    work(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    if (e.reason != Success) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The work recorded for `span` alone, excluding its children. */
  def of(span: Long): Work = synchronized {
    val w = new Work
    bySpan.get(span).foreach(w.add)
    w
  }
}

/** Heap occupancy right after each collection, from the JVM's GC
  * notifications, plus the collectors' accumulated pause time. */
final class Heap {
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
          .map(_.getUsed).sum
        Heap.this.synchronized { if (used > peak) peak = used }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Largest post-GC occupancy since the last reset, in bytes. */
  def peakBytes: Long = synchronized(peak)
  def reset(): Unit = synchronized { peak = 0L }
  /** Total collection time of all collectors so far, in ms. */
  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def close(): Unit = beans.foreach {
    case e: NotificationEmitter => e.removeNotificationListener(listener)
    case _ =>
  }
}

/** One timed call. `attrs` holds counts the caller measured itself (pairs
  * produced, edges, Lloyd iterations, bytes written). */
final class Span(val id: Long, val parent: Long, val name: String,
                 val startNs: Long, val gcStartMs: Long) {
  var endNs = 0L
  var gcMs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call stack on the calling
  * thread; each span's id is set as the Spark job property that
  * [[Counters]] attributes work by. Nothing is written until the caller
  * asks for the trace at the end of the run. */
final class Spans(sc: SparkContext, heap: Heap) {
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Span]
  val all = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T = record(name)(body)._1

  /** Runs `body` in a new span; returns its result and the span. */
  def record[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
      System.nanoTime(), heap.gcMs)
    nextId += 1
    stack.push(s)
    all += s
    sc.setLocalProperty(Spans.Property, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.gcMs = heap.gcMs - s.gcStartMs
      stack.pop()
      sc.setLocalProperty(Spans.Property,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Whether [[step]] records spans; untraced jobs skip them. */
  var detailed = false

  /** A span inside a job, recorded only on traced jobs. */
  def step[T](name: String)(body: => T): T =
    if (detailed) apply(name)(body) else body

  /** `s`'s work plus that of every span nested inside it. */
  def inclusive(s: Span, counters: Counters): Work = {
    val w = counters.of(s.id)
    all.filter(_.parent == s.id).foreach(c => w.add(inclusive(c, counters)))
    w
  }

  /** Sets a count on the most recent span called `name`. */
  def note(name: String, key: String, value: Double): Unit =
    all.findLast(_.name == name).foreach(_.attrs(key) = value)

  /** Spans of this name opened (directly or deeper) inside `root`. */
  def within(root: Span, name: String): Seq[Span] = {
    def under(s: Span): Boolean =
      s.parent == root.id || all.find(_.id == s.parent).exists(under)
    all.filter(s => s.name == name && under(s)).toSeq
  }
}

object Spans {
  val Property = "anonbench.span"
}
