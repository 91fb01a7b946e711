package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload once and writes its result as JSON.
  * Started by run.py, which builds the classpath, makes the catalog inputs,
  * and turns the result into the benchmark's output line.
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                  --run-dir DIR --start-ms EPOCH_MS --out FILE [--rate RECORDS_PER_S]
  *   perfbench.Main --record-digests DIR FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--record-digests")) {
      val spark = session()
      Catalog.recordDigests(spark, args(1), args(2))
      spark.stop()
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val runDir = opts("run-dir")
    val startMs = opts("start-ms").toDouble

    val res = new Result
    val jvm = new JvmWatch
    val spark = session()
    val spans = new Spans(trace)
    val tracker = if (trace) {
      val t = new JobTracker(spans)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = Ctx(spark, seed, seconds, runDir, startMs, res, jvm, spans, tracker)
    ctx.mark("session ready")

    res.meta ++= Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"),
      "cpus" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))

    try workload match {
      case "summary_stream" => Streams.run(ctx, opts.get("rate").map(_.toInt).getOrElse(Streams.DefaultRate))
      case "catalog_cold" => Catalog.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.problems += s"workload aborted: $e"
    }
    if (trace) {
      res.put("trace.overhead_ms", spans.overheadNs.get / 1e6, "ms")
      res.put("trace.spans", spans.toSeq.size.toDouble, "count")
      res.metrics.get("latency_p50_ms").foreach { case (v, u) => res.put("trace.latency_p50_ms", v, u) }
    }
    Files.writeString(Paths.get(opts("out")), res.toJson)
    ctx.mark("result written")
    spark.stop()
  }

  /** The session exactly as graft.Main builds it: local[nproc], one shuffle
    * partition per core, UTC, and the TopK rewrite installed. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.RowNumberTopKRewrite.install(spark)
    spark
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, runDir: String,
    startMs: Double, res: Result, jvm: JvmWatch, spans: Spans,
    tracker: Option[JobTracker]) {
  def trace: Boolean = tracker.isDefined
  /** Marks the end of set-up: the moment the first timed operation starts. */
  def setupDone(atMs: Double): Unit = res.put("setup_s", (atMs - startMs) / 1000.0, "s")
  /** Timeline line in the JVM log: seconds since the benchmark started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - startMs) / 1000.0}%7.2f s  $what")
}
