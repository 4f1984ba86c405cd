package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. The layer is the name's first segment
  * (`operators.qcSummary` → `operators`); `op.*` spans are the workload's
  * top-level units of work and `check.*` spans its output checks.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = Long.MaxValue
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spark counters charged to one span. Written by the listener thread,
  * read by the main thread after the listener bus has drained.
  */
final class Counters {
  var jobs, tasks, taskMs, gcMs, schedDelayMs = 0L
  var shuffleWriteB, spillB, planMs, scanB, scanMs = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Spans kept in memory for one run, plus the Spark, SQL and streaming
  * listeners that charge engine counters to them. Spans are recorded only
  * while `enabled`; with tracing off every call runs bare.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  @volatile var enabled = false

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
  /** (phase start ms, plan ms, scan bytes, scan ms) per finished query. */
  private val queries = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  @volatile var lastQe: QueryExecution = _

  /** Jobs and task time of every job, traced or not, to compare passes. */
  val allJobs = new java.util.concurrent.atomic.AtomicLong
  val allTaskMs = new java.util.concurrent.atomic.AtomicLong

  def counter(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Jobs carry their span's job group. Streaming micro-batches run under
    * the stream's own group, so those jobs go to the innermost open span.
    */
  private def spanOfJob(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toInt)
      .getOrElse(stack.headOption.map(_.id).getOrElse(-1))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      allJobs.incrementAndGet()
      if (enabled) chargeJob(e)
    }
    private def chargeJob(e: SparkListenerJobStart): Unit = {
      val id = spanOfJob(e.properties)
      if (id >= 0) {
        val c = counter(id)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (m != null) allTaskMs.addAndGet(m.executorRunTime)
      if (id != null && m != null) {
        val c = counter(id)
        val info = e.taskInfo
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            info.duration
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (enabled) scala.util.Try {
      lastQe = qe
      val phases = qe.tracker.phases
      val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val at = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      // a scan inside a cached relation ran once, when the cache was
      // built: count each scan node once
      val scans = PlanWalk.nodes(qe.executedPlan)
        .collect { case s: FileSourceScanExec => s }.filter(seenScans.add)
      def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      queries.add((at, planMs, scans.map(metric(_, "filesSize")).sum,
        scans.map(s => metric(s, "scanTime") + metric(s, "metadataTime")).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  })

  /** Deliver every pending listener event, then charge each finished
    * query's plan and scan counters to the innermost span open when its
    * planning started.
    */
  def drain(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    var q = queries.poll()
    while (q != null) {
      val (at, planMs, scanB, scanMs) = q
      val open = spans.filter(s => s.startMs <= at && at <= s.endMs)
      if (open.nonEmpty) {
        val c = counter(open.maxBy(_.startNs).id)
        c.synchronized { c.planMs += planMs; c.scanB += scanB; c.scanMs += scanMs }
      }
      q = queries.poll()
    }
  }

  /** Counters of every span, keyed by span id (after `drain`). */
  def countersOf(s: Span): Counters = counters.getOrDefault(s.id, new Counters)

  /** Self time: duration minus the part covered by direct children. */
  def selfNs(s: Span): Long =
    s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum

  def writeJson(path: String): Unit = {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("[", ",\n", "]\n").getBytes("UTF-8"))
  }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Every node, including the plans behind cached relations. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
    .flatMap {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m +: nodes(m.relation.cachedPlan)
      case p => Seq(p)
    }
}

/** Micro-batch progress of every streaming query. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, so every session's
  * query manager gets one — StreamOps runs its streams on child sessions,
  * which a listener added to the parent's `spark.streams` never sees.
  */
class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (StreamProgress.armed) StreamProgress.events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamProgress {
  @volatile var armed = false
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def take(): Seq[StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var p = events.poll()
    while (p != null) { out += p; p = events.poll() }
    out.toSeq
  }
}

/** Largest heap in use right after a collection: after every GC, the sum
  * of the heap pools' post-collection usage, kept as a running maximum
  * while armed.
  */
object Heap {
  @volatile var armed = false
  @volatile var peakB = 0L

  /** Collect once more, so a window without any collection still reads
    * its live heap; notifications arrive asynchronously.
    */
  def collectAndWait(): Unit = {
    val before = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (peakB == 0L && System.nanoTime() < deadline &&
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum <= before)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  def install(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakB) peakB = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}
