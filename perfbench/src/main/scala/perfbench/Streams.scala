package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.sources.Sources
import graft.streaming.{KvUpsertSink, StreamJobs, TopicTableSink}

/** summary_stream: the paper's `Streamer` pipeline (`StreamJobs.summaryPipeline`,
  * 2 s trigger) fed by an open-loop generator that writes one Kafka-shaped
  * parquet file per tick into a directory the benchmark's own file stream
  * reads. */
object Streams {
  val TickMs = 100
  val TriggerMs = 2000L
  /** Offered records/s: a stated fraction of the rate the pipeline
    * sustains (see NOTES.md, "Offered rate"). */
  val DefaultRate = 20000

  private val Topic = "page_visits"
  private val EventKeys = Array("click", "view", "purchase", "signup", "error")

  private val wireSchema = MessageTypeParser.parseMessageType(
    """message kafka {
      |  optional binary key (STRING);
      |  optional binary value (STRING);
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** One generator tick: the records of one file, the offset of its first
    * record, when it was due and when it became visible to the stream. */
  final class Tick(val k: Int, val dueMs: Double, val offset0: Long, val keys: Array[String],
      val values: Array[String]) {
    @volatile var visibleMs: Double = Double.NaN
    def n: Int = keys.length
    def fileName: String = f"tick-$k%06d.parquet"
  }

  /** Deterministic record source: the seed fixes keys and values. */
  final class RecordSource(seed: Long, recordsPerTick: Int) {
    private val rng = new java.util.SplittableRandom(seed)
    def next(k: Int, dueMs: Double): Tick = {
      val keys = Array.fill(recordsPerTick)(
        if (rng.nextInt(100) == 0) null else EventKeys(rng.nextInt(EventKeys.length)))
      val values = Array.fill(recordsPerTick)(s"""{"k": ${rng.nextInt(100)}}""")
      new Tick(k, dueMs, k.toLong * recordsPerTick, keys, values)
    }
  }

  /** Writes the tick's records into `dir` as one parquet file, each stamped
    * with its creation time: the time the tick is due. */
  def write(t: Tick, dir: String): Path = {
    val path = Paths.get(dir, t.fileName)
    val tsUs = (t.dueMs * 1000).toLong
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(wireSchema).build()
    val f = new SimpleGroupFactory(wireSchema)
    try (0 until t.n).foreach { i =>
      val g = f.newGroup()
      val offset = t.offset0 + i
      if (t.keys(i) != null) g.append("key", t.keys(i))
      g.append("value", t.values(i)).append("topic", Topic)
        .append("partition", (offset % 4).toInt).append("offset", offset)
        .append("timestamp", tsUs)
      w.write(g)
    } finally w.close()
    path
  }

  /** Starts the pipeline on the benchmark's own file stream: the wire
    * schema of `Sources.kafkaShapedStream`, over the files that land in
    * `src`. The measured query takes every new file in each batch, as a
    * Kafka source takes every new offset. */
  private def start(spark: SparkSession, src: String, dir: String, trigger: Trigger,
      maxFilesPerTrigger: Option[Int] = None) = {
    val r = spark.readStream.schema(Sources.kafkaWireSchema)
    maxFilesPerTrigger.foreach(m => r.option("maxFilesPerTrigger", m.toLong))
    StreamJobs.summaryPipeline(r.parquet(src), Topic, "out", new TopicTableSink(s"$dir/topic"),
      new KvUpsertSink(s"$dir/kv"), trigger, Some(s"$dir/ckpt"))
  }

  /** What a finished micro-batch looked like, from its progress event and
    * the source log in the checkpoint. */
  final case class Batch(id: Long, startMs: Double, endMs: Double, durations: Map[String, Long],
      rows: Long, ticks: Seq[Int], snap: Option[Snapshot])

  /** Files of the KV table, topic table and checkpoint right after a batch. */
  final case class Snapshot(kv: Seq[(String, String, Long, Long)], topicFiles: Int, ckptFiles: Int)

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def dataFiles(dir: String): Seq[File] =
    files(new File(dir)).filter { f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_") && f.getName.endsWith(".parquet") &&
        !f.getPath.split(File.separator).exists(_.startsWith("_"))
    }

  private def snapshot(dir: String): Snapshot = Snapshot(
    dataFiles(s"$dir/kv").map(f => (f.getParentFile.getName, f.getName, f.length, f.lastModified)),
    dataFiles(s"$dir/topic").size,
    files(new File(s"$dir/ckpt")).size)

  private val TickFile = "tick-(\\d+)\\.parquet".r
  private val LogEntry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r

  /** Tick numbers the engine logged for `batchId` in the file source log. */
  private def ticksOf(ckpt: String, batchId: Long): Seq[Int] = {
    val log = Seq(s"$ckpt/sources/0/$batchId", s"$ckpt/sources/0/$batchId.compact")
      .map(Paths.get(_)).find(Files.exists(_))
    log.toSeq.flatMap(p => Files.readAllLines(p).asScala).flatMap { line =>
      LogEntry.findFirstMatchIn(line).filter(_.group(2).toLong == batchId)
        .flatMap(m => TickFile.findFirstMatchIn(m.group(1))).map(_.group(1).toInt)
    }
  }

  /** Collects finished batches of the measured query. */
  final class Progress(dir: String, spans: Spans) extends StreamingQueryListener {
    import StreamingQueryListener._
    val runId = new AtomicReference[java.util.UUID]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.runId == runId.get && p.durationMs.containsKey("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val b = Batch(p.batchId, start, start + d("triggerExecution"), d, p.numInputRows,
          ticksOf(s"$dir/ckpt", p.batchId),
          if (spans.enabled) Some(spans.overhead(snapshot(dir))) else None)
        batches.add(b)
        System.err.println(f"[perfbench] batch ${b.id}%3d ticks ${b.ticks.size}%3d " +
          f"took ${d("triggerExecution")}%5d ms (addBatch ${d.getOrElse("addBatch", 0L)}%5d)")
      }
    }
  }

  /** Generator ticks the measured query processes before the window opens:
    * its batches keep getting faster for about ten batches while the JIT
    * compiles, and one that runs past the trigger delays the next ones. */
  private val WarmMs = 16000
  /** How long before a trigger the last tick of the window is due. */
  private val LastTickLeadMs = 300

  /** A fresh JVM spends seconds on its first micro-batches (class loading,
    * codegen, JIT). A separate query of the same pipeline, on its own
    * directories, takes that cost before the measured query starts: two
    * batches of one trigger's worth of records each. */
  private def warmUp(ctx: Ctx, recordsPerTick: Int): Unit = {
    import ctx._
    val dir = s"$runDir/warm"
    new File(s"$dir/src").mkdirs()
    val src = new RecordSource(seed ^ 0x5eedL, recordsPerTick * (TriggerMs / TickMs).toInt)
    (0 until 2).foreach(k => write(src.next(k, Clock.nowMs), s"$dir/src"))
    start(spark, s"$dir/src", dir, Trigger.AvailableNow(), Some(1)).awaitTermination()
  }

  def run(ctx: Ctx, rate: Int): Unit = {
    import ctx._
    val recordsPerTick = rate * TickMs / 1000
    warmUp(ctx, recordsPerTick)
    mark("warm-up done")
    val dir = s"$runDir/stream"
    Seq("src", "stage").foreach(d => new File(s"$dir/$d").mkdirs())
    val progress = new Progress(dir, spans)
    spark.streams.addListener(progress)
    val query = spans.span(0, "pipeline.start", "summary_stream")(_ =>
      start(spark, s"$dir/src", dir, Trigger.ProcessingTime(TriggerMs)))
    progress.runId.set(query.runId)

    val src = new RecordSource(seed, recordsPerTick)
    val nWarm = WarmMs / TickMs
    val nTicks = nWarm + seconds * 1000 / TickMs
    // The engine fires its trigger at multiples of TriggerMs since the
    // epoch. The schedule is placed so that the last tick is due LastTickLeadMs
    // before a trigger fires: every run then sees its ticks at the same
    // phases of the trigger, and the drain after the window takes one batch.
    val lastDue = math.ceil((Clock.nowMs + 500 + (nTicks - 1) * TickMs + LastTickLeadMs) / TriggerMs) *
      TriggerMs - LastTickLeadMs
    val g0 = lastDue - (nTicks - 1) * TickMs
    val ticks = Array.tabulate(nTicks)(k => src.next(k, g0 + k * TickMs))
    val measured = ticks.drop(nWarm).toSeq
    val t0 = measured.head.dueMs
    // Every tick's file is written into `stage` ahead of time, in due order,
    // by one thread per core; all are written seconds into the pre-roll.
    // The generator thread only moves each file into `src` when it is due
    // (one rename, so the stream never lists a half-written file), whatever
    // the pipeline does. Writing each file at its due time instead kept a
    // core busy for 40 ms of every 100 ms tick inside the window.
    val writers = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    val staged = ticks.map(t => writers.submit(new java.util.concurrent.Callable[Path] {
      def call(): Path = write(t, s"$dir/stage")
    }))
    writers.shutdown()
    val generator = new Thread("generator") {
      override def run(): Unit = ticks.zip(staged).foreach { case (t, file) =>
        Clock.sleepUntil(t.dueMs)
        Files.move(file.get(), Paths.get(s"$dir/src", t.fileName), StandardCopyOption.ATOMIC_MOVE)
        t.visibleMs = Clock.nowMs
      }
    }
    generator.start()
    mark("generator started")
    Clock.sleepUntil(t0)
    setupDone(t0)
    mark("window opens")
    jvm.arm()
    generator.join()

    // drain: wait for the batch that commits the last tick
    val deadline = Clock.nowMs + 60000
    def committed = progress.batches.asScala.flatMap(_.ticks).toSet
    while (committed.size < ticks.length && Clock.nowMs < deadline && query.isActive) Thread.sleep(50)
    jvm.disarm()
    query.stop()
    mark("drained and stopped")
    Thread.sleep(300) // let the listener bus deliver the last progress event
    spark.streams.removeListener(progress)
    query.exception.foreach(e => res.problems += s"stream query failed: $e")

    val all = progress.batches.asScala.toSeq.sortBy(_.id)
    val batchOf = all.flatMap(b => b.ticks.map(_ -> b)).toMap
    val lost = ticks.count(t => !batchOf.contains(t.k))
    res.check(lost == 0, s"$lost of ${ticks.length} ticks were never committed")
    val batches = all.filter(_.ticks.exists(_ >= nWarm))

    val lat = measured.flatMap(t => batchOf.get(t.k).map(_.endMs - t.dueMs))
    val lastCommit = batchOf.get(ticks.length - 1).map(_.endMs).getOrElse(Clock.nowMs)
    res.put("latency_p50_ms", Stats.q(lat, 0.5), "ms")
    res.put("latency_p95_ms", Stats.q(lat, 0.95), "ms")
    res.put("throughput_rps", measured.map(_.n).sum / ((lastCommit - t0) / 1000.0), "1/s")
    res.put("heap_peak_mb", jvm.oldGenPeakMb, "MB")
    res.attempted += batches.size
    res.failed += lost
    res.meta ++= Seq(
      "offered_records_per_s" -> rate.toString,
      "tick_ms" -> TickMs.toString, "trigger_ms" -> TriggerMs.toString,
      "warm_up_ms" -> WarmMs.toString, "latency_samples" -> lat.size.toString,
      "batches" -> batches.size.toString, "gc_events" -> jvm.gcEvents.toString)

    checkSummary(ctx, dir, all, ticks.map(_.n.toLong).sum)
    mark("output checked")

    res.put("gen.late_ms_max", measured.map(t => t.visibleMs - t.dueMs).max, "ms")
    res.put("stream.queue_wait_ms",
      Stats.median(measured.flatMap(t => batchOf.get(t.k).map(_.startMs - t.visibleMs))), "ms")
    res.put("stream.backlog_max_records", batches.map { b =>
      ticks.filter(_.visibleMs <= b.endMs).map(_.n).sum -
        all.filter(_.id <= b.id).flatMap(_.ticks).map(ticks(_).n).sum
    }.max.toDouble, "records")
    if (trace) traceMetrics(ctx, all, batches, ticks)
  }

  /** Streamer's output: one topic line per batch, and the per-line message
    * counts sum to the records generated. */
  private def checkSummary(ctx: Ctx, dir: String, batches: Seq[Batch], nRecords: Long): Unit = {
    val lines = new TopicTableSink(s"$dir/topic").read(ctx.spark).select("value").collect()
      .map(_.getString(0)).toSeq
    val withRows = batches.count(_.rows > 0)
    ctx.res.check(lines.size == withRows, s"${lines.size} topic lines for $withRows batches with data")
    val counted = lines.map(l => "number of message (\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)
      .getOrElse(-1L)).sum
    ctx.res.check(counted == nRecords, s"topic lines count $counted messages, generated $nRecords")
  }

  /** Bytes of the cells a batch hands to the KV sink (UTF-8 of rowkey, cf,
    * qualifier and value, plus the 8-byte timestamp): the summary cell and
    * one bulk cell per distinct (key, value). */
  private def ownCellBytes(b: Batch, ticks: Int => Tick): Long = {
    def len(s: String) = s.getBytes("UTF-8").length.toLong
    def value(key: String, v: String) = if (key == null) "kafka empty message" else s"$key--|--$v"
    val recs = b.ticks.flatMap { k => val t = ticks(k); t.keys.indices.map(i => (t.keys(i), t.values(i))) }
    val sec = (b.ticks.map(ticks(_).dueMs).max / 1000).toLong.toString
    val summary = len(s"Spark - date:yyyy/MM/dd HH:mm from topic: $Topic - " +
      s"number of RDD (batches): ${b.id + 1} - number of message ${recs.size}")
    (len(sec) + 3 + 8 + summary + 8) + recs.distinct.map { case (key, v) =>
      len(s"$sec-${Option(key).getOrElse("null")}") + 3 + 7 + len(value(key, v)) + 8 }.sum
  }

  private def traceMetrics(ctx: Ctx, all: Seq[Batch], batches: Seq[Batch], ticks: Array[Tick]): Unit = {
    import ctx._
    def med(f: Batch => Double) = Stats.median(batches.map(f))
    def d(b: Batch, k: String) = b.durations.getOrElse(k, 0L).toDouble
    res.put("jvm.gc_ms", jvm.gcMsInWindow, "ms")
    res.put("stream.latest_offset_ms", med(d(_, "latestOffset")), "ms")
    res.put("stream.get_batch_ms", med(d(_, "getBatch")), "ms")
    res.put("stream.planning_ms", med(d(_, "queryPlanning")), "ms")
    res.put("stream.wal_commit_ms", med(b => d(b, "walCommit") + d(b, "commitOffsets")), "ms")
    res.put("stream.add_batch_ms", med(d(_, "addBatch")), "ms")

    Thread.sleep(500) // listener bus: task-end events of the last batch
    val jobs = tracker.get.all.filter(_.batchId.isDefined).groupBy(_.batchId.get)
    def jobsOf(b: Batch) = jobs.getOrElse(b.id, Nil)
    res.put("stream.jobs_per_batch", med(jobsOf(_).size.toDouble), "count")
    res.put("stream.tasks_per_batch", med(jobsOf(_).map(_.tasks.get).sum.toDouble), "count")
    // spans: batch -> its duration phases -> the jobs that ran inside them
    val driverSelf = batches.map { b =>
      val bId = spans.add(0, "batch", s"batch ${b.id}", b.startMs, b.endMs)
      var at = b.startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .filter(b.durations.contains).foreach { ph =>
          val pId = spans.add(bId, "phase", ph, at, at + d(b, ph))
          jobsOf(b).filter(j => j.startMs >= at && j.startMs < at + d(b, ph))
            .foreach(j => spans.add(pId, "job", s"job ${j.jobId}", j.startMs, j.endMs))
          at += d(b, ph)
        }
      d(b, "triggerExecution") - Stats.unionMs(jobsOf(b).map(j => (j.startMs, j.endMs)))
    }
    res.put("stream.driver_self_ms", Stats.median(driverSelf), "ms")

    val measuredIds = batches.map(_.id).toSet
    val snaps = all.flatMap(b => b.snap.map(b -> _))
    val perBatch = snaps.indices.filter(i => measuredIds(snaps(i)._1.id)).map { i =>
      val (b, s) = snaps(i)
      val before = if (i == 0) Nil else snaps(i - 1)._2.kv
      val written = s.kv.filter { case (_, _, _, mt) => mt >= b.startMs - 5 && mt <= b.endMs + 5 }
      val touched = written.map(_._1).toSet
      (written.size.toDouble, written.map(_._3).sum.toDouble,
        before.filter(f => touched(f._1)).map(_._3).sum.toDouble, ownCellBytes(b, ticks(_)).toDouble)
    }
    res.put("kv.files_written_per_batch", Stats.median(perBatch.map(_._1)), "files")
    res.put("kv.bytes_written_per_batch", Stats.median(perBatch.map(_._2)), "bytes")
    res.put("kv.bytes_read_per_batch", Stats.median(perBatch.map(_._3)), "bytes")
    res.put("kv.write_amplification", perBatch.map(_._2).sum / perBatch.map(_._4).sum, "ratio")
    val measuredSnaps = snaps.filter(x => measuredIds(x._1.id))
    val (first, last) = (measuredSnaps.head, measuredSnaps.last)
    val nb = math.max(1, measuredSnaps.size - 1).toDouble
    res.put("kv.table_files", last._2.kv.size.toDouble, "files")
    res.put("kv.table_bytes", last._2.kv.map(_._3).sum.toDouble, "bytes")
    res.put("ckpt.files_per_batch", (last._2.ckptFiles - first._2.ckptFiles) / nb, "files")
    res.put("topic.files_per_batch", (last._2.topicFiles - first._2.topicFiles) / nb, "files")
  }
}
