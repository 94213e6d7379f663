package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Executor-side counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  /** (submission, completion) epoch-ms intervals of the span's stages. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs, stages and tasks to the span that was open when
  * the job was submitted: the harness sets [[SpanListener.Prop]] as a
  * local property before each call, and a job carries it in its
  * properties. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counters = mutable.HashMap.empty[Int, Counters]

  def of(span: Int): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.Prop))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      of(s).synchronized(of(s).jobs += 1)
      e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.putIfAbsent(e.stageInfo.stageId, s))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val c = of(s)
      c.synchronized {
        c.stages += 1
        for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
          c.stageIntervals += ((a, b))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = of(s)
      c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
}

object SpanListener {
  val Prop = "perfbench.span"
}

/** One closed span. Times: `startMs`/`endMs` are epoch ms (the clock Spark
  * stamps stages with), `wallNs` is the monotonic duration. */
final case class Span(
    id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long, wallNs: Long, childNs: Long, c: Counters) {
  def wallS: Double = wallNs / 1e9
  def selfS: Double = (wallNs - childNs) / 1e9
  def taskS: Double = c.taskMs / 1e3
  /** Span wall during which none of the span's own stages ran. */
  def driverS: Double = {
    val iv = c.stageIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (endMs - startMs) - covered) / 1e3
  }
}

/** Spans around calls into graft's layers, held in memory until the run
  * ends. A disabled tracer runs the body and records nothing. */
final class Tracer(sc: SparkContext, traceOn: Boolean, run: String) {
  val listener = new SpanListener
  if (traceOn) sc.addSparkListener(listener)
  /** Spans are recorded only while enabled (and only on a traced run). */
  var enabled: Boolean = traceOn
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil // (span id, child ns so far)
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled || !traceOn) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, 0L) :: stack
      sc.setLocalProperty(SpanListener.Prop, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        // deliver this span's queued task events before it closes
        ListenerShim.drain(sc)
        val wall = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        val childNs = stack.head._2
        stack = stack.tail
        stack = stack match {
          case (p, ns) :: rest => (p, ns + wall) :: rest
          case Nil => Nil
        }
        sc.setLocalProperty(SpanListener.Prop,
          if (parent >= 0) parent.toString else null)
        done += Span(id, name, parent, run, startMs, endMs, wall, childNs, listener.of(id))
      }
    }

  /** Spans opened after `mark` (a previous `spans.size`). */
  def since(mark: Int): Seq[Span] = done.drop(mark).toSeq
}

/** Largest heap occupancy seen right after a collection, from the
  * collectors' notifications (the JMX after-GC usage). */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              HeapPeak.synchronized { if (used > peak) peak = used }
            }
        }, null, null)
      case _ => ()
    }

  def reset(): Unit = HeapPeak.synchronized { peak = 0L }

  /** Peak after-GC heap in MB; collects once first so a quiet run still
    * reports its live set. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    val p: Long = peak
    p / (1024.0 * 1024.0)
  }
}
