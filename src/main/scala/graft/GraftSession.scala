package graft
import org.apache.spark.sql.SparkSession
import graft.streaming.NioCheckpointFileManager

/** The one place a Spark session is built: every main and the test suites
  * get the same engine, so a plan or a timing means the same thing
  * whichever entry point produced it.
  *
  *   - `local[cpus]` with one shuffle partition per core; `cpus` defaults
  *     to SPARK_GRAFT_CPUS (4 when unset)
  *   - UTC session zone, UI off, log level WARN
  *   - int64-µs parquet timestamps, so the DuckDB oracle reads our parquet
  *     as bit-identical values to its own output (no INT96 ambiguity)
  *   - streaming checkpoints through [[NioCheckpointFileManager]], which
  *     starts no child process on `file:` (the `StreamJobs` pipelines also
  *     pin it at their start, whatever session they are given)
  *   - the engine extensions: the row_number top-k rewrite, the TopKPerKey
  *     and AsOfJoin strategies ([[org.apache.spark.sql.graft.RowNumberTopKRewrite.install]])
  */
object GraftSession {
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(NioCheckpointFileManager.pin._1, NioCheckpointFileManager.pin._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.RowNumberTopKRewrite.install(spark)
    spark
  }

  /** Run `body` with each `key -> value` pin set on the session, then put
    * every key back as it was (its old value, or unset if it had none),
    * whether `body` returns or throws. A key pinned twice takes its last
    * value. */
  private[graft] def withConf[A](spark: SparkSession, pins: (String, String)*)(body: => A): A = {
    val saved = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
