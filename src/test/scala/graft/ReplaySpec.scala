package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream ≡ batch: each deterministic replay query (streaming.ReplayOps —
  * the real StreamJobs pipelines over a MemoryStream of the events fixture)
  * must equal the same computation done in plain batch Spark. The driver's
  * DuckDB oracle checks the same equality against a second engine; this
  * spec keeps it pinned inside `sbt test`.
  */
class ReplaySpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(c => col(c).cast("string")): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(""))
  }

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf001)

  private val events = Tables.t(spark, sf001, "events")

  test("streaming_session_replay equals batch session_window aggregation") {
    val batch = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n"))
    assert(rows(run("streaming_session_replay")) === rows(batch))
  }

  test("streaming_window_counts_replay equals batch tumbling-hour counts") {
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(rows(run("streaming_window_counts_replay")) === rows(batch))
  }

  test("streaming dedup replays equal batch DISTINCT (single- and two-batch)") {
    val batch = events.select(col("user_id"), col("event_type")).distinct()
    assert(rows(run("streaming_dedup_replay")) === rows(batch))
    // two-batch variant: second batch's dups suppressed by cross-batch state
    assert(rows(run("streaming_dedup_ww_replay")) === rows(batch))
  }

  test("stream-stream interval joins equal the batch interval joins") {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("view_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"))
    val cond = col("p_user") === col("user_id") &&
      col("purchase_ts") >= col("view_ts") &&
      col("purchase_ts") <= col("view_ts") + expr("interval 1 hour")
    val inner = v.join(p, cond).select(col("user_id"), col("view_ts"), col("purchase_ts"))
    assert(rows(run("streaming_join_replay")) === rows(inner))
    val outer = v.join(p, cond, "left_outer")
      .select(col("user_id"), col("view_ts"), col("purchase_ts"))
    assert(rows(run("streaming_left_join_replay")) === rows(outer))
    val full = v.join(p, cond, "full_outer")
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("view_ts"), col("purchase_ts"))
    assert(rows(run("streaming_full_join_replay")) === rows(full))
  }

  test("streaming_dedup_agg_replay (chained stateful ops) equals batch " +
      "DISTINCT-then-GROUP BY") {
    val batch = events.select(col("user_id"), col("event_type"), col("ts"))
      .distinct()
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("user_id"), col("n"))
    assert(rows(run("streaming_dedup_agg_replay")) === rows(batch))
  }

  test("streaming_rate_limit_replay (transformWithState) equals the batch " +
      "per-(key, day-window) row_number cap, and the cap actually rejects") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), expr("unix_micros(ts) div 86400000000"))
      .orderBy(col("ts"), col("event_id"))
    val batch = events
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"))
    val got = run("streaming_rate_limit_replay")
    assert(rows(got) === rows(batch))
    // a limiter that admits everything proves nothing — the two-batch
    // replay must have rejected a real fraction (and since the replay's
    // batch split lands MID-day for many keys, equality with the batch
    // oracle above also proves the ValueState resumed across batches)
    assert(got.count() < events.count())
  }

  test("state-store counts (running, heavy hitters) equal batch counts") {
    val perUser = events.groupBy(col("user_id").cast("string").as("user_key"))
      .agg(count(lit(1)).as("n"))
    assert(rows(run("streaming_running_counts_replay")) === rows(perUser))
    val perType = events
      .groupBy(col("user_id").cast("string").as("user_key"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .join(perUser.withColumnRenamed("n", "n_user"), "user_key")
      .select(col("user_key"), col("event_type"), col("cnt"), col("n_user"))
    assert(rows(run("streaming_heavy_hitters_replay")) === rows(perType))
  }

  test("sessionize (processing-time timeout) emits one batch rollup per user") {
    val batch = events.groupBy(col("user_id").cast("string").as("user_key"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("first_ms"),
        max(unix_millis(col("ts"))).as("last_ms"))
    assert(rows(run("streaming_sessionize_replay")) === rows(batch))
  }

  test("chained debounce equals a per-group reference chain walk") {
    // reference semantics computed directly: per (user, type), walk the
    // sorted µs list keeping an event iff > 5 min after the last KEPT
    val quiet = 300000000L
    val ref = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .toSeq.flatMap { case ((u, t), rs) =>
        val kept = Seq.newBuilder[(Long, String, Long)]
        var last = Long.MinValue
        rs.map(_.getLong(2)).sorted.foreach { us =>
          if (last == Long.MinValue || us > last + quiet) {
            kept += ((u, t, us)); last = us
          }
        }
        kept.result()
      }
    val got = run("streaming_debounce_replay").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.sorted === ref.sorted)
  }

  test("exact anomaly flags equal the integer inequality over a batch prefix") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      round(col("value") * 100).cast("long")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("x"))
    val batch = e
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", coalesce(sum(col("x")).over(w), lit(0)))
      .withColumn("s2", coalesce(sum(col("x") * col("x")).over(w), lit(0)))
      .filter(col("n") >= 5 &&
        (col("n") * col("x") - col("s1")) * (col("n") * col("x") - col("s1")) >
          (col("n") * col("s2") - col("s1") * col("s1")) * 9)
      .select(col("user_id"), col("us"), col("x").cast("long").as("centi"),
        col("n").as("n_prior"))
    assert(rows(run("streaming_anomaly_exact_replay")) === rows(batch))
  }

  test("streaming near-dup hits equal batch band-key ownership") {
    val docs = Tables.t(spark, sf001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bands = docs.flatMap { case (id, text) =>
      graft.streaming.StreamJobs.minhashBandKeys(text)
        .map { case (b, k) => (b, k, id) }
    }
    val expected = bands.groupBy(r => (r._1, r._2)).toSeq.flatMap {
      case ((b, k), rs) =>
        val owner = rs.map(_._3).min
        rs.map(_._3).distinct.filter(_ != owner).map(d => (d, owner, b, k))
    }.sorted
    val got = run("streaming_neardup_replay").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .toSeq.sorted
    assert(got === expected)
  }

  test("streaming_topk_replay equals batch per-window rank, final ranks only") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("user_id"))
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
    assert(rows(run("streaming_topk_replay")) === rows(batch))
  }

  test("replay output is state-store-backend independent: RocksDB equals " +
      "the HDFS-backed default (the at-scale provider swap is config-only)") {
    // one stateful-agg replay (session windows) and one arbitrary-state
    // replay (running counts) — the two state-store code paths
    val names = Seq("streaming_session_replay", "streaming_running_counts_replay")
    val baseline = names.map(n => n -> rows(run(n))).toMap
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      names.foreach { n =>
        assert(rows(run(n)) === baseline(n), s"$n diverges under RocksDB")
      }
    }
  }

  test("a replay whose query fails to start puts back the session conf " +
      "and deletes its scratch dir") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.{ReplayOps, StreamQuiet}
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    def conf() = keys.map(k => k -> spark.conf.getOption(k))
    def joinDirs() = java.nio.file.Files.list(
        java.nio.file.Paths.get(ReplayOps.scratchRoot)).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_replay_join")).toSet
    val confBefore = conf()
    val dirsBefore = joinDirs()
    // an active query already holds the replay's sink name, so the
    // replay's own start() throws
    val blocker = spark.readStream.format("rate").load()
      .writeStream.format("memory").queryName("replay_join").start()
    try intercept[IllegalArgumentException](run("streaming_join_replay"))
    finally StreamQuiet.quietStop(blocker)
    assert(conf() === confBefore)
    assert(joinDirs() -- dirsBefore === Set.empty)
  }
}
