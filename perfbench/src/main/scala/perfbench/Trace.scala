package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock with sub-millisecond resolution, in epoch milliseconds, so
  * generator due times, read times and the engine's progress timestamps
  * share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }
}

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store for the traced run. Spans are only kept when
  * tracing is on; nothing is written out until the run ends. */
final class Spans(val enabled: Boolean) {
  /** Time the tracing itself spent while the workload ran: listener
    * callbacks and directory listings. */
  val overheadNs = new AtomicLong()
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, kind: String, name: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    if (enabled) all.add(Span(id, parent, kind, name, startMs, endMs))
    id
  }

  /** Run `body` as a span; `body` gets the span's id to parent its children. */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Clock.nowMs
    val r = body(id)
    if (enabled) all.add(Span(id, parent, kind, name, t0, Clock.nowMs))
    r
  }

  def toSeq: Seq[Span] = all.asScala.toSeq

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfMs: Map[Long, Double] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionMs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Per-job counters gathered from Spark's public listener events. */
final class JobRecord(val jobId: Int, val startMs: Double, val batchId: Option[Long],
    val group: Option[String]) {
  @volatile var endMs: Double = Double.NaN
  val tasks = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
}

/** SparkListener for the traced run: attributes every job to a micro-batch
  * (by the `streaming.sql.batchId` local property the engine sets) or to a
  * catalog query (by the job group the benchmark sets before calling it),
  * and sums task metrics per job. Its callbacks count as tracing overhead. */
final class JobTracker(spans: Spans) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  private def timed(body: => Unit): Unit = spans.overhead(body)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val rec = new JobRecord(e.jobId, e.time.toDouble, batch, group)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageJob.get(e.stageId)).foreach { rec =>
      rec.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        rec.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def all: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.jobId)
}

/** JVM-level counters over the measured window: GC time, and the peak
  * old-generation occupancy right after a collection, read from every GC
  * notification while the window is open. */
final class JvmWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum
  /** The pool objects are promoted into: "G1 Old Gen", "PS Old Gen", "Tenured Gen". */
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  @volatile private var armed = false
  @volatile private var gcMs0 = 0L
  @volatile private var gcMs1 = -1L
  @volatile private var forcedMs = 0L
  private val peakOld = new AtomicLong()
  private val events = new AtomicLong()

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isOld(pool) => u.getUsed
        }.sum
        events.incrementAndGet()
        peakOld.accumulateAndGet(old, math.max)
      }
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Opens the window. The old generation as the last collection left it
    * is the starting peak, so a window without a collection still reads
    * what the heap holds. */
  def arm(): Unit = {
    gcMs0 = gcMs
    gcMs1 = -1L
    forcedMs = 0L
    events.set(0)
    peakOld.set(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    armed = true
  }
  /** A full collection outside timed work; its GC time is not counted in
    * gcMsInWindow. */
  def collect(): Unit = {
    val before = gcMs
    System.gc()
    forcedMs += gcMs - before
  }

  /** Closes the window. */
  def disarm(): Unit = { armed = false; gcMs1 = gcMs }

  def oldGenPeakMb: Double = peakOld.get / 1048576.0
  def gcEvents: Long = events.get
  def gcMsInWindow: Double = ((if (gcMs1 >= 0) gcMs1 else gcMs) - gcMs0 - forcedMs).toDouble
}
