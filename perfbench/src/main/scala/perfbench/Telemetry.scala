package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run. `op` is the operation (trace) it
  * belongs to; `parent` is the enclosing span's id, 0 for an operation's
  * root. Times are epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, op: String, pass: Int,
    layer: String, name: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** In-memory span recorder. The driver thread is the only caller, so a
  * plain stack is enough. When disabled, `span` runs its body and records
  * nothing. */
final class Tracer {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var currentOp = ""
  private var currentPass = 0
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def beginOp(op: String, pass: Int): Unit = { currentOp = op; currentPass = pass }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, currentPass, layer, name, t0, nowMs)
      }
    }

  def toJson: java.util.List[java.util.Map[String, Any]] =
    spans.map(s => Map[String, Any]("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "pass" -> s.pass, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end).asJava).asJava
}

/** Per-task record kept by [[JobLedger]]. */
final case class TaskRec(op: String, stage: Int, durationMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleWrite: Long, shuffleRead: Long, spillBytes: Long)

/** Counts Spark jobs, stages and tasks under each operation. The driver
  * tags its jobs with the `perfbench.op` local property; stages and tasks
  * inherit the tag through their job. Registered only in traced passes. */
final class JobLedger extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobLedger.OpKey))).getOrElse("")
    jobStart.put(e.jobId, (op, e.time.toDouble))
    e.stageIds.foreach(s => stageOp.put(s, op))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      jobs.add((op, t0, e.time.toDouble))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((stageOp.getOrDefault(e.stageInfo.stageId, ""),
      e.stageInfo.stageId))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      stageOp.getOrDefault(e.stageId, ""), e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled))
  }
}

object JobLedger {
  val OpKey = "perfbench.op"
}

/** Streaming progress and terminations. Failures are always recorded (a
  * stream that dies is a failed operation); progress only in traced
  * passes. */
final class StreamLedger extends StreamingQueryListener {
  import StreamingQueryListener._
  @volatile var recordProgress = false
  /** (query name, input rows, phase durations) per micro-batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, Long, java.util.Map[String, java.lang.Long])]()
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (recordProgress)
      progress.add((String.valueOf(e.progress.name), e.progress.numInputRows,
        e.progress.durationMs))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(failures.add)
}

/** Largest heap occupancy right after a garbage collection, summed over
  * the heap pools, while `active`. */
final class HeapPeak extends NotificationListener {
  @volatile var active = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ => ()
  }
  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (active && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peakBytes) peakBytes = used }
    }
}
