package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` 0 is the root. Times are nanoTime. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Long, end: Long)

/** Spans around the harness's calls into the program, kept in memory.
  *
  * While a span is open its id is set as the `perfbench.span` local
  * property of the calling thread, so Spark jobs submitted under it can be
  * attributed by [[SparkMetrics]]. A local property is used, not the job
  * group: Structured Streaming sets and cancels by job group on `stop()`.
  * With tracing off `span` only runs its body.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val nextId = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Integer] { override def initialValue = 0 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val parent = current.get
      val prevProp = sc.getLocalProperty(Tracer.Key)
      current.set(id)
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, "harness", t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Tracer.Key, prevProp)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Spans plus Spark jobs and stages as child spans of the harness span
    * that submitted them. */
  def allSpans(m: SparkMetrics): Seq[Span] = {
    val base = nextId.get + 1
    val jobs = m.jobs.values.toSeq.filter(_.end > 0).map { j =>
      Span(base + j.id, j.span, s"spark.job", "spark", m.toNano(j.start), m.toNano(j.end))
    }
    val jobSpan = m.jobs.values.map(j => j.id -> (base + j.id)).toMap
    val stageBase = base + m.jobs.keys.maxOption.getOrElse(0) + 1
    val stages = m.stages.values.toSeq.filter(s => s.end > 0 && s.submitted > 0).map { s =>
      Span(stageBase + s.id, m.stageJob.get(s.id).flatMap(jobSpan.get).getOrElse(0),
        "spark.stage", "spark", m.toNano(s.submitted), m.toNano(s.end))
    }
    spans ++ jobs ++ stages
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Returned summed by span name, in seconds. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

/** Spark job, stage and task figures, attributed to the harness span that
  * was open when the job was submitted. */
final class SparkMetrics extends SparkListener {
  final class Job(val id: Int, val span: Int, val start: Long) {
    @volatile var end = 0L
  }
  final class Stage(val id: Int) {
    var submitted = 0L; var end = 0L; var tasks = 0
    var runNs = 0L; var cpuNs = 0L; var maxTaskNs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]().asScala
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]().asScala
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]().asScala
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def toNano(ms: Long): Long = ns0 + (ms - ms0) * 1000000L
  def toMs(ns: Long): Long = ms0 + (ns - ns0) / 1000000L

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs(e.jobId) = new Job(e.jobId, spanOf(e.properties), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.tasks = e.stageInfo.numTasks
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitted == 0) s.submitted = e.stageInfo.submissionTime.getOrElse(s.end)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      val run = m.executorRunTime * 1000000L
      s.runNs += run
      s.cpuNs += m.executorCpuTime
      s.maxTaskNs = math.max(s.maxTaskNs, run)
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Jobs whose span is one of `spanIds`, and their stages. */
  def jobsUnder(spanIds: Int => Boolean): Seq[Job] = jobs.values.filter(j => spanIds(j.span)).toSeq
  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.map(_.id).toSet
    stageJob.collect { case (st, j) if ids(j) => stages.get(st) }.flatten.toSeq
  }

  /** Wait until every started job has ended and the last task events are
    * in, so figures read after a phase are complete. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobs.values.exists(_.end == 0) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** Heap occupancy right after each GC, and GC time, over a window. */
final class HeapWatch extends NotificationListener {
  @volatile private var active = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
  private var gcMs0 = 0L

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }

  private def gcMs = beans.map(_.getCollectionTime).sum
  private val windows = mutable.ArrayBuffer.empty[Long]
  def start(): Unit = { peak = 0; gcMs0 = gcMs; forcedMs = 0; active = true }
  /** Close the current window: remember its peak. */
  def window(): Unit = { windows += peak; peak = 0 }
  /** Collect all garbage, then watch again from zero: every window starts
    * from the live heap, not from whatever earlier windows left behind. */
  def cleanStart(): Unit = {
    active = false
    val before = gcMs
    System.gc()
    Thread.sleep(100)
    forcedMs += gcMs - before
    peak = 0
    active = true
  }
  private var forcedMs = 0L
  def windowPeaksMb: Seq[Double] = windows.map(_ / 1048576.0).toSeq
  def pause(): Unit = active = false
  /** GC time since `start`, without the collections `cleanStart` forced. */
  def gcSeconds: Double = (gcMs - gcMs0 - forcedMs) / 1000.0
  def close(): Unit = {
    active = false
    beans.foreach(b => try b.asInstanceOf[NotificationEmitter].removeNotificationListener(this)
      catch { case _: Exception => () })
  }
}

/** One micro-batch's progress. */
final case class Batch(id: Long, rows: Long, triggerMs: Long, durations: Map[String, Long])

/** Streaming micro-batch progress, by batch id. */
final class BatchLog extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val batches = new ConcurrentLinkedQueue[(java.util.UUID, Batch)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(p.runId -> Batch(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def of(runId: java.util.UUID): Seq[Batch] =
    batches.asScala.collect { case (r, b) if r == runId => b }.toSeq
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
