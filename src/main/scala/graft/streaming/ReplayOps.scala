package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{GraftSession, Q, QOps, QueryModule, Tables}

/** Deterministic REPLAY harness: the StreamJobs pipelines run over the
  * driver's `events` fixture through a `MemoryStream`, flushed to
  * completion, and returned as a plain DataFrame — so the streaming half
  * of the engine (the reference's actual core, Streamer.scala:120-207) is
  * covered by the driver's DuckDB oracle hash channel, not only ScalaTest.
  *
  * Determinism contract (what makes a streaming pipeline hash-checkable):
  *  - All fixture rows are fed in ONE micro-batch (two for the
  *    cross-batch-state replay), so no row is ever late relative to the
  *    watermark and nothing is dropped — the streaming result is exactly
  *    the batch-semantics result the oracle SQL computes.
  *  - Event-time only: watermarks, session/tumbling windows and dedup keys
  *    are all functions of the fixture's `ts` column; no processing-time
  *    trigger state leaks into the output.
  *  - Append-mode aggregations only emit a window once the WATERMARK
  *    passes its end, and the watermark only advances between batches, so
  *    the replay appends two far-future sentinel batches (key = -1) to
  *    push the watermark past every real session/window, then filters the
  *    sentinel back out ([[flush]]). (Sentinel 1 advances the watermark
  *    past the data; sentinel 2 advances it past sentinel 1's own windows
  *    so batch 3 actually runs with the final watermark.)
  *  - Output rows are projected to the columns that are
  *    partitioning-independent (e.g. dedup emits the first-SEEN physical
  *    row per key — which row that is depends on task order — so the
  *    replay selects only the dedup key columns) and totally ordered.
  *
  * One scope and one runner: every replay starts its queries inside
  * [[withReplayConf]] ([[ReplayConf]] plus any per-replay pins, put back
  * by `GraftSession.withConf`) and inside [[withTempDir]] (a fresh dir on
  * [[scratchRoot]], deleted after). Both are undone whether the replay
  * returns or throws, so a query that fails to start leaves neither its
  * conf nor its checkpoint behind. Replays read back from a memory sink go
  * through [[runToMemory]]; the ones that start through a StreamJobs
  * function or restart from a checkpoint use the two scopes directly.
  *
  * Driver-scale note: the fixture collect is bounded (events is 1e4 rows
  * at the verify SF, 1e5 at bench SF) — this is a correctness harness
  * replaying a finite fixture through the real streaming operators, not
  * the production ingest path (that is `readStream` in Sources.scala; the
  * pipelines under test here are byte-identical in both).
  */
object ReplayOps extends QueryModule {

  /** One replayed event: the (key, timestamp[, value]) shape every
    * StreamJobs aggregation consumes. The extra fields ride along for the
    * state-store replays (ids for as-of payloads, µs for debounce windows,
    * the metric value) — every pipeline selects its columns by name, so
    * they are invisible to the aggregation replays.
    *
    * Public (not `private`): the Dataset encoder's GENERATED deserializer
    * class lives outside this object and cannot touch a private member —
    * Janino rejects it and every fixture collect silently falls back to
    * interpreted projection. */
  case class Ev(key: Long, value: String, timestamp: Timestamp,
      eid: Long = 0L, dval: Double = 0.0, us: Long = 0L)

  private def ts(ms: Long) = new Timestamp(ms)

  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** The session conf every replay query starts under. Each pin is an
    * execution choice, not semantics: every replay output stays
    * hash-checked against the batch oracle, and the crash-restart replays
    * still resume from these checkpoints.
    *
    *  - Shuffle partitions 2. Streaming queries capture the
    *    shuffle-partition count at START as their STATE partitioning:
    *    every micro-batch then commits one state store per partition per
    *    stateful operator — at the sweep default of 32 that is pure fixed
    *    overhead for a bounded replay fixture (the stream-stream join
    *    replay spent 17 s on it at sf0.01), and at production scale the
    *    production session's own setting applies. State is hash-partitioned
    *    by key at any width.
    *  - No-data micro-batches off. With a ProcessingTime(0) trigger the
    *    engine otherwise runs an extra empty stateful batch (plan +
    *    per-partition state commit) after every watermark advance — pure
    *    fixed overhead here, because every replay that needs a
    *    post-watermark batch feeds a DATA batch (the second sentinel) to
    *    provide it. The two replays that need them pin [[NoData]].
    *  - No checkpoint-manager pin: the session's manager applies, which
    *    `GraftSession` sets to [[NioCheckpointFileManager]] (no child process
    *    per checkpoint file; round 12 measured the default manager's
    *    per-rename `readlink` fork dominating replay wall time).
    *  - Checkpoint checksums off. Spark 4.1's checkpoint file-checksum
    *    layer writes a second `.crc`-style sidecar per checkpoint file
    *    through the same rename path — doubling the checkpoint writes for
    *    scratch files that live seconds. Outside the replay scope it stays
    *    on: it is there to detect corruption. */
  private val ReplayConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "2",
    NoDataKey -> "false",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** Extra pin for the replays whose result depends on no-data batches. */
  private val NoData = NoDataKey -> "true"

  /** Extra pin: the RocksDB state store provider, the only backend
    * transformWithState runs on in Spark 4.1. (Round 13 measured RocksDB
    * changelog-checkpointing and trackTotalNumberOfRows=false pins here:
    * no win outside noise at replay state sizes — per-batch cost is the
    * per-row store round-trips inside the processors, fixed in
    * [[TwsTrailProcessor]], not the commit I/O. Left at defaults.) */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` under [[ReplayConf]] plus `pins` (which win), restoring the
    * session conf after. */
  private def withReplayConf[A](spark: SparkSession, pins: (String, String)*)(body: => A): A =
    GraftSession.withConf(spark, ReplayConf ++ pins: _*)(body)

  /** Scratch root for replay checkpoints/state/sinks: tmpfs when the host
    * has one (/dev/shm) — the harness writes hundreds of small fsynced
    * files per replay (offset/commit logs, state deltas, sink parquet),
    * all deleted seconds later, and memory-backed scratch removes that
    * disk round-trip from every bench timing. Replay outputs are
    * hash-checked either way; production pipelines keep real storage.
    *
    * Guarded by a free-space check: containers commonly mount /dev/shm at
    * its 64 MB default, where RocksDB checkpoints would die with ENOSPC
    * mid-replay — fall back to java.io.tmpdir unless the tmpfs has
    * comfortable headroom. The chosen root is logged once so recorded
    * bench timings carry their scratch location (tmpfs vs disk timings
    * are not comparable). */
  private val ShmMinFreeBytes = 4L << 30 // 4 GiB: >10× the largest replay's litter
  private val tmpRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val chosen =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          (try java.nio.file.Files.getFileStore(shm).getUsableSpace >= ShmMinFreeBytes
           catch { case _: Throwable => false })) Some(shm)
      else None
    System.err.println(s"[replay] scratch root: " +
      chosen.map(_.toString).getOrElse(System.getProperty("java.io.tmpdir")) +
      (if (chosen.isEmpty) " (tmpfs unavailable or < 4 GiB free)" else " (tmpfs)"))
    chosen
  }

  /** The replay scratch root as recorded in bench artifacts: tmpfs vs disk
    * timings are not comparable, so Bench embeds this in its JSON. */
  def scratchRoot: String =
    tmpRoot.map(_.toString).getOrElse(System.getProperty("java.io.tmpdir"))

  /** A fresh dir on [[scratchRoot]] for `body`, ALWAYS deleted after:
    * repeated Verify/Bench/test sweeps in one environment would otherwise
    * accumulate unbounded checkpoint/state-store/sink litter. The delete
    * never throws — cleanup must not mask the real result or error. */
  private def withTempDir[A](prefix: String)(body: String => A): A = {
    import java.nio.file.Files
    val d = tmpRoot match {
      case Some(r) => Files.createTempDirectory(r, prefix)
      case None    => Files.createTempDirectory(prefix)
    }
    try body(d.toString) finally
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(d).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => Files.deleteIfExists(f))
      } catch { case _: Throwable => () }
  }

  /** Eagerly materialize a replay result so its backing sink/temp files can
    * be deleted before returning: the bounded rows (every sink-backed
    * replay output is ≤ ~10k rows by construction) move to the driver and
    * come back as a local-relation DataFrame. NOT localCheckpoint: that
    * pins a block-manager RDD that `spark.catalog.clearCache()` cannot
    * reclaim, leaking one result-sized pin per sweep query
    * (CacheHygieneSpec caught it). */
  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  /** The one memory-sink runner: start `out` into a memory table `name`
    * under the replay conf (plus `pins`) with its checkpoint in a replay
    * temp dir, hand the query to `feed`, stop it, and return the table.
    * Re-runs in one session (test + Verify + Bench share sweeps) replace
    * the previous run's table. */
  private def runToMemory(spark: SparkSession, name: String, out: DataFrame,
      mode: String = "append", pins: Seq[(String, String)] = Nil)(
      feed: StreamingQuery => Unit): DataFrame = {
    withTempDir(s"graft_$name") { ckpt =>
      withReplayConf(spark, pins: _*) {
        spark.catalog.dropTempView(name)
        val q = out.writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt)
          .format("memory").queryName(name).start()
        try feed(q) finally StreamQuiet.quietStop(q)
      }
    }
    spark.table(name)
  }

  /** Feed the watermark-flush sentinels to every input in `ins`: for each
    * of `hours`, one key -1 row that many hours past the latest event in
    * `data`, then one batch. The default 3 h / 6 h sit far past any real
    * session (30 min gap) or window (1 h) end. */
  private def flush(q: StreamingQuery, data: Iterable[Ev], ins: Seq[MemoryStream[Ev]],
      hours: Seq[Long] = Seq(3L, 6L)): Unit = {
    lazy val maxMs = data.map(_.timestamp.getTime).max
    hours.foreach { h =>
      ins.foreach(_.addData(Ev(-1L, "s", ts(maxMs + h * 3600 * 1000))))
      q.processAllAvailable()
    }
  }

  /** Feed `batches` through `pipeline`, flush with the sentinel batches at
    * `flushHours` past the data (none to skip), return the memory-sink
    * table. `mk` builds the pipeline from the streaming DataFrame (columns
    * key, value, timestamp). */
  private def replay(
      spark: SparkSession,
      batches: Seq[Seq[Ev]],
      sinkName: String,
      flushHours: Seq[Long] = Seq(3L, 6L),
      pins: Seq[(String, String)] = Nil)(mk: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    runToMemory(spark, sinkName, mk(in.toDF()), pins = pins) { q =>
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      flush(q, batches.flatten, Seq(in), flushHours)
    }
  }

  /** events → Ev rows, one driver-side fixture collect (bounded, see
    * class doc), sorted by (ts, event_id) so batch splits are stable.
    *
    * Memoized per (session, dir) like Tables.t: every replay consumes the
    * identical array, and re-collecting it cost ~0.4 s × 22 replays × 2
    * timed runs in the sf0.1 bench sweep. ~10 MB at bench SF — bounded.
    * The array is shared read-only; replays must not mutate it. */
  private val fixtureMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Array[Ev]]]()

  private def fixture(spark: SparkSession, dir: String): Array[Ev] = {
    val perSession = fixtureMemo.synchronized {
      var m = fixtureMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Array[Ev]]()
        fixtureMemo.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(dir, { _ =>
      import spark.implicits._
      cappedEvents(spark, dir)
        .select(col("user_id").as("key"), col("event_type").as("value"),
          col("ts").as("timestamp"), col("event_id").as("eid"),
          col("value").as("dval"), unix_micros(col("ts")).as("us"))
        .as[Ev].collect()
    })
  }

  /** The capped event set every replay (and any STATIC side a replay
    * derives from the events table — drift baselines, enrich dims) must
    * read, so engine and oracle see the same rows: TakeOrdered keeps it a
    * single bounded pass at any SF. */
  private def cappedEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "events")
      .orderBy("ts", "event_id")
      .limit(ReplayFixtureCap)

  /** Replay fixtures are capped at the first [[ReplayFixtureCap]] events in
    * (ts, event_id) order — exactly the sf0.1 table size, so the cap is a
    * no-op at every driver SF and only engages on native 10×+ data.
    * Replays verify STREAMING SEMANTICS (watermarks, state, restarts)
    * against the batch oracle; semantics don't need 10× fixture rows, and
    * round 10 measured 268 s of the 861 s sf1.0 sweep re-proving them on
    * 1M-row fixtures. The oracle applies the identical cap (a derived
    * table replayed per oracle via [[capEventsOracle]]), so the contract
    * stays exact at any SF. */
  private val ReplayFixtureCap = 100000

  /** Rewrite an oracle's `FROM events` refs to the capped fixture — an
    * inline derived table keeping the `events` alias, so WITH-bearing
    * oracles need no restructuring. */
  private def capEventsOracle(sql: String): String =
    sql.replace("FROM events",
      s"FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT $ReplayFixtureCap) events")

  /** Declarative streaming session windows (StreamJobs.sessionWindowCounts)
    * replayed to completion — same operator the batch `session_windows`
    * query runs over static data; oracle is that query's SQL reduced to
    * the streamed columns. */
  private def sessionReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val out = replay(spark, Seq(evs.toSeq), "replay_sessions") { df =>
      StreamJobs.sessionWindowCounts(df, "30 minutes", "0 seconds")
    }
    // The Timestamp-encoder input is tz-aware; the fixture tables (and so
    // the oracle) are TIMESTAMP_NTZ. Same µs under the UTC session zone —
    // cast so the parquet types the driver compares agree too.
    QOps.ordered1(
      out.filter(col("key") >= 0)
        .select(col("key").as("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"), col("n")),
      col("user_id"), col("session_start"))
  }

  /** Tumbling event-time window counts (StreamJobs.windowedCounts, the
    * streaming form of the reference's reduceByKey) replayed to
    * completion. */
  private def windowCountsReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val out = replay(spark, Seq(evs.toSeq), "replay_window_counts") { df =>
      StreamJobs.windowedCounts(df, "1 hour", "0 seconds")
    }
    QOps.ordered1(
      out.filter(col("key") >= 0)
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("key").as("user_id"), col("n")),
      col("window_start"), col("user_id"))
  }

  /** Late-data DROP under a REAL watermark delay — the replay that closes
    * the loop with the batch `watermark_plan` audit: does Structured
    * Streaming actually drop exactly the rows the batch arithmetic
    * predicts? Feed even-user events as batch 1 (spanning the full time
    * range, so the watermark ratchets to max_even_ts − 25 h), then
    * odd-user events as batch 2: an odd row is dropped iff its DAY
    * window's end ≤ that watermark (Spark's aggregation late-filter is on
    * the window end, and the watermark is the ms-floored batch-1 max
    * minus the delay — both reproduced to the microsecond in the oracle).
    * Sentinels are custom (+50 h/+52 h): the shared replay() sentinels sit
    * only 3–6 h past max and can never flush windows behind a 25-hour
    * watermark. Output: surviving (day window, user) counts.
    */
  private def watermarkDropReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val (evens, odds) = evs.partition(_.key % 2 == 0)
    // NoData: this replay verifies the engine's DEFAULT late-drop
    // behavior, and the watermark a batch filters against only reaches
    // the aggregation through the default no-data-batch propagation —
    // with it disabled the odd batch runs before the evens' watermark
    // applies and nothing is dropped (measured: 4006 rows vs 2132)
    val out = replay(spark, Seq(evens.toSeq, odds.toSeq), "replay_wm_drop",
      flushHours = Seq(50L, 52L), pins = Seq(NoData)) { df =>
      StreamJobs.windowedCounts(df, "1 day", "25 hours")
    }
    QOps.ordered1(
      out.filter(col("key") >= 0)
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("key").as("user_id"), col("n")),
      col("window_start"), col("user_id"))
  }

  /** Cross-batch streaming dedup (StreamJobs.streamingDedup, D1): distinct
    * (user, event_type) pairs; output projected to the dedup key (which
    * physical row is "first seen" is task-order dependent; the key set is
    * not). */
  private def dedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val out = replay(spark, Seq(evs.toSeq), "replay_dedup", flushHours = Nil) {
      df => StreamJobs.streamingDedup(df, "0 seconds")
    }
    QOps.ordered1(
      out.select(col("key").as("user_id"), col("value").as("event_type")),
      col("user_id"), col("event_type"))
  }

  /** Watermark-bounded dedup (StreamJobs.streamingDedupWithinWatermark) fed
    * in TWO time-split micro-batches so the second batch's duplicates are
    * suppressed by cross-batch STATE, not within-batch aggregation. The
    * watermark delay is DERIVED from the fixture's actual time span (+2
    * days margin) so no state is evicted mid-replay and the result equals
    * batch DISTINCT — a hardcoded delay would silently re-admit duplicates
    * on any scaled/hostile fixture spanning longer. */
  private def dedupWwReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2) // fixture is ts-sorted
    val spanDays = (evs.last.timestamp.getTime - evs.head.timestamp.getTime) /
      86400000L + 2
    val out = replay(spark, Seq(b1.toSeq, b2.toSeq), "replay_dedup_ww",
      flushHours = Nil) { df =>
      StreamJobs.streamingDedupWithinWatermark(df, s"$spanDays days")
    }
    QOps.ordered1(
      out.select(col("key").as("user_id"), col("value").as("event_type")),
      col("user_id"), col("event_type"))
  }

  /** Windowed top-k (StreamJobs.windowedTopK — watermark-closed windows
    * ranked in foreachBatch, batch-keyed overwrite sink) replayed through a
    * real TopicTableSink dir and read back. k=3, 1 h tumbling windows. */
  private def topkReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    withTempDir("graft_replay_topk") { root =>
      val in = MemoryStream[Ev](spark)
      val sink = new TopicTableSink(root + "/t")
      withReplayConf(spark) {
        val q = StreamJobs.windowedTopK(in.toDF(), "1 hour", "0 seconds", 3, sink,
          checkpoint = Some(root + "/ckpt"))
        try { in.addData(evs.toSeq); q.processAllAvailable(); flush(q, evs, Seq(in)) }
        finally StreamQuiet.quietStop(q)
      }
      // materialize BEFORE the temp sink dir is deleted on scope exit
      materialize(QOps.ordered1(
        sink.read(spark).filter(col("key") >= 0)
          .select(col("window_start").cast("timestamp_ntz").as("window_start"),
            col("key").as("user_id"), col("n"), col("rk")),
        col("window_start"), col("rk")))
    }
  }

  /** Enqueue the fixture's views on `views` and its purchases on
    * `purchases` BEFORE the query starts, so its first batch takes both
    * sides at once. Fed after start, the query's trigger can pick up the
    * first side alone, and the replay runs one batch more than it means
    * to. */
  private def feedBoth(views: MemoryStream[Ev], purchases: MemoryStream[Ev],
      evs: Array[Ev]): Unit = {
    views.addData(evs.filter(_.value == "view").toSeq)
    purchases.addData(evs.filter(_.value == "purchase").toSeq)
  }

  /** Stream-stream INTERVAL join (StreamJobs.streamStreamJoin): views
    * joined to same-user purchases within [view_ts, view_ts + 1 h]. Inner
    * matches emit as soon as both sides are buffered, so a single batch per
    * side replays to exactly the batch interval-join result. */
  private def joinReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val lIn = MemoryStream[Ev](spark)
    val rIn = MemoryStream[Ev](spark)
    val out = StreamJobs.streamStreamJoin(lIn.toDF(), rIn.toDF(),
      "1 hour", "0 seconds")
    feedBoth(lIn, rIn, evs)
    val got = runToMemory(spark, "replay_join", out)(_.processAllAvailable())
    QOps.ordered1(
      got.select(
        col("l_key").as("user_id"),
        col("l_ts").cast("timestamp_ntz").as("view_ts"),
        col("r_ts").cast("timestamp_ntz").as("purchase_ts")),
      col("user_id"), col("view_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER interval join
    * (StreamJobs.streamStreamLeftOuterJoin): like [[joinReplay]] but views
    * with no in-window purchase emit null-padded once the watermark proves
    * no match can arrive. Sentinels go to BOTH streams — the global
    * watermark is the min across inputs — and two are needed: eviction
    * happens in the batch AFTER the watermark advances. */
  private def leftJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val lIn = MemoryStream[Ev](spark)
    val rIn = MemoryStream[Ev](spark)
    val out = StreamJobs.streamStreamLeftOuterJoin(lIn.toDF(), rIn.toDF(),
      "1 hour", "0 seconds")
    feedBoth(lIn, rIn, evs)
    val got = runToMemory(spark, "replay_left_join", out) { q =>
      q.processAllAvailable()
      flush(q, evs, Seq(lIn, rIn))
    }
    QOps.ordered1(
      got.filter(col("l_key") >= 0).select(
        col("l_key").as("user_id"),
        col("l_ts").cast("timestamp_ntz").as("view_ts"),
        col("r_ts").cast("timestamp_ntz").as("purchase_ts")),
      col("user_id"), col("view_ts"), col("purchase_ts"))
  }

  /** Stream-stream FULL OUTER interval join
    * (StreamJobs.streamStreamFullOuterJoin): both feeds' orphans surface
    * null-padded once the watermark finalizes them. Sentinels to both
    * streams, twice, as in [[leftJoinReplay]]. */
  private def fullOuterJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val lIn = MemoryStream[Ev](spark)
    val rIn = MemoryStream[Ev](spark)
    val out = StreamJobs.streamStreamFullOuterJoin(lIn.toDF(), rIn.toDF(),
      "1 hour", "0 seconds")
    feedBoth(lIn, rIn, evs)
    val got = runToMemory(spark, "replay_full_join", out) { q =>
      q.processAllAvailable()
      flush(q, evs, Seq(lIn, rIn))
    }
    QOps.ordered1(
      got
        .filter(coalesce(col("l_key"), col("r_key")) >= 0)
        .select(
          coalesce(col("l_key"), col("r_key")).as("user_id"),
          col("l_ts").cast("timestamp_ntz").as("view_ts"),
          col("r_ts").cast("timestamp_ntz").as("purchase_ts")),
      col("user_id"), col("view_ts"), col("purchase_ts"))
  }

  /** CHAINED stateful operators (StreamJobs.dedupThenWindowCounts):
    * watermarked dedup feeding a tumbling-window count in ONE query —
    * replayed to completion, equals the batch DISTINCT-then-GROUP BY. */
  private def dedupAggReplay(spark: SparkSession, dir: String): DataFrame = {
    val evs = fixture(spark, dir)
    val out = replay(spark, Seq(evs.toSeq), "replay_dedup_agg") { df =>
      StreamJobs.dedupThenWindowCounts(df, "1 hour", "0 seconds")
    }
    QOps.ordered1(
      out.filter(col("key") >= 0)
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("key").as("user_id"), col("n")),
      col("window_start"), col("user_id"))
  }

  /** transformWithState rate limiter (StreamJobs.rateLimitPerKey): at most
    * 3 events per user per 1-DAY event-time window (at this fixture's
    * density the cap rejects ~14% of rows — a 10-minute window would admit
    * everything and prove nothing), fed in TWO
    * time-split batches so the admitted set proves the ValueState resumed
    * across the batch boundary (a straddling window's count continues, not
    * resets). TimeMode.None — no watermark, no sentinels; the memory sink
    * holds exactly the admitted rows. transformWithState only runs on the
    * RocksDB state store in Spark 4.1, so the provider is pinned for the
    * query ([[RocksDb]]; ReplaySpec separately proves replay outputs are
    * backend-independent). */
  private def rateLimitReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2) // fixture is (ts, eid)-sorted
    val in = MemoryStream[Ev](spark)
    val out = StreamJobs.rateLimitPerKey(in.toDF(), 3, 86400000000L)
    val got = runToMemory(spark, "replay_rate_limit", out, pins = Seq(RocksDb)) { q =>
      Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    }
    QOps.ordered1(
      got
        .select(col("key").as("user_id"), col("eid").as("event_id")),
      col("user_id"), col("event_id"))
  }

  /** transformWithState COMPOSITE-state replay ([[StreamJobs.trailStatsTws]]
    * — ListState trailing buffer + MapState per-type counts + a 1-hour TTL
    * on the map): the fixture in two (ts, eid)-split batches, so both
    * variables must survive a batch boundary for the per-row running rank
    * and trailing-max features to hash-match the batch window oracle. */
  private def trailStatsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2) // fixture is (ts, eid)-sorted
    val in = MemoryStream[Ev](spark)
    val out = StreamJobs.trailStatsTws(in.toDF(), 3)
    val got = runToMemory(spark, "replay_tws_trail", out, pins = Seq(RocksDb)) { q =>
      Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    }
    QOps.ordered1(
      got
        .select(col("key").as("user_id"), col("eid").as("event_id"),
          col("typeRank").as("type_rank"),
          col("trailMaxCents").as("trail_max_cents")),
      col("user_id"), col("event_id"))
  }

  /** Map [[StreamJobs.sessionizeTws]] output (key, startUs, lastUs, n) onto
    * the batch session oracle's shape (user_id, session_start,
    * session_end = last + gap, n), sentinel key filtered. */
  private def twsSessionShape(df: DataFrame): DataFrame =
    QOps.ordered1(
      df.filter(col("key") >= 0).select(
        col("key").as("user_id"),
        timestamp_micros(col("startUs")).cast("timestamp_ntz")
          .as("session_start"),
        (timestamp_micros(col("lastUs")) + expr("INTERVAL 30 MINUTES"))
          .cast("timestamp_ntz").as("session_end"),
        col("n")),
      col("user_id"), col("session_start"))

  /** transformWithState EVENT-TIME-TIMER sessionizer
    * (StreamJobs.sessionizeTws — TimeMode.EventTime, per-key timers on the
    * RocksDB provider): 30-minute-gap sessions close when the watermark
    * passes last + gap. Two time-split batches prove the open-session
    * ValueState resumes across the batch boundary; two watermark sentinels
    * (+3 h / +6 h past the data, the restartReplay pattern) then fire every
    * remaining timer — timers only run inside batches, and [[ReplayConf]]
    * disables no-data batches, so the second sentinel batch executes with
    * the first sentinel's watermark. Oracle: the UNCHANGED batch session
    * SQL — the timer path is correct iff the hash doesn't move. */
  private def twsSessionReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[Ev](spark)
    val out = StreamJobs.sessionizeTws(in.toDF(), 1800000000L, "0 seconds")
    twsSessionShape(runToMemory(spark, "replay_tws_session", out,
        pins = Seq(RocksDb)) { q =>
      Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
      flush(q, evs, Seq(in))
    })
  }

  /** Crash-restart replay of the transformWithState sessionizer ON THE
    * ROCKSDB PROVIDER: batch 1 under q1, q1 stops, q2 resumes from the SAME
    * checkpoint (RocksDB state + registered TIMERS + file-sink commit log
    * recovered), batch 2 and the sentinels run under q2, and the durable
    * parquet sink is read back. Sessions straddling the restart only merge
    * if q2 restored q1's ValueState; sessions whose keys never reappear
    * after the restart only emit if q1's registered timers survived into
    * q2 — both defects are a hash mismatch against the unchanged batch
    * session oracle. Complements streaming_restart_replay (HDFS-backed
    * session_window aggregation) with Spark 4's stateful API + backend. */
  private def twsRestartReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    withTempDir("graft_replay_twsr") { root =>
      withReplayConf(spark, RocksDb) {
        val in = MemoryStream[Ev](spark)
        val pipe = StreamJobs.sessionizeTws(in.toDF(), 1800000000L,
          "0 seconds")
        def start() = pipe.writeStream.outputMode("append")
          .option("checkpointLocation", root + "/ckpt")
          .option("path", root + "/out")
          .format("parquet").start()
        val q1 = start()
        try { in.addData(b1.toSeq); q1.processAllAvailable() }
        finally StreamQuiet.quietStop(q1)
        val q2 = start() // SAME checkpoint, SAME sink: resume, not rebuild
        try { in.addData(b2.toSeq); q2.processAllAvailable(); flush(q2, evs, Seq(in)) }
        finally StreamQuiet.quietStop(q2)
        materialize(twsSessionShape(spark.read.parquet(root + "/out")))
      }
    }
  }

  /** Stream-static broadcast enrichment (StreamJobs.streamStaticEnrich):
    * the event stream left-joined to a bounded dim (user → tier, with a
    * deliberate coverage gap so the 'unknown' fallback path is exercised).
    * Stateless, so one batch replays to the batch left join exactly. */
  private def enrichReplay(spark: SparkSession, dir: String): DataFrame = {
    val dim = cappedEvents(spark, dir)
      .select(col("user_id").as("key")).distinct()
      .filter(col("key") % 4 =!= 3)
      .withColumn("tier",
        when(col("key") % 3 === 0, "gold")
          .when(col("key") % 3 === 1, "silver").otherwise("bronze"))
    val evs = fixture(spark, dir)
    val out = replay(spark, Seq(evs.toSeq), "replay_enrich",
      flushHours = Nil) { df => StreamJobs.streamStaticEnrich(df, dim) }
    QOps.ordered1(
      out.select(col("key").as("user_id"), col("value").as("event_type"),
        col("timestamp").cast("timestamp_ntz").as("ts"), col("tier")),
      col("user_id"), col("ts"), col("event_type"))
  }

  private def toKafkaShaped(e: Ev): KafkaShaped =
    KafkaShaped(e.key.toString, e.value, "events", 0, e.eid, e.timestamp)

  /** Cross-batch running counts (StreamJobs.runningCountsPerKey — the
    * mapGroupsWithState generalization of the reference's driver counter,
    * A4) fed in TWO batches; update mode emits a row per key per batch, so
    * the FINAL count is the max (counts are monotone). Equals batch
    * count-per-key iff batch-2 state really resumed from batch 1. */
  private def runningCountsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[KafkaShaped](spark)
    val out = StreamJobs.runningCountsPerKey(in.toDS())
      .toDF("user_key", "n")
    val got = runToMemory(spark, "replay_running_counts", out, mode = "update") { q =>
      Seq(b1, b2).foreach { b =>
        in.addData(b.map(toKafkaShaped).toSeq); q.processAllAvailable()
      }
    }
    QOps.ordered1(
      got
        .groupBy(col("user_key")).agg(max(col("n")).as("n")),
      col("user_key"))
  }

  /** Streaming heavy hitters (StreamJobs.streamingHeavyHitters,
    * flatMapGroupsWithState Misra-Gries) replayed in the EXACT regime:
    * capacity 64 ≥ the 5 distinct event types, so every slot holds a true
    * count and the final update per (user, type) equals the batch count.
    * Two batches exercise cross-batch summary state. */
  private def heavyHittersReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[KafkaShaped](spark)
    val out = StreamJobs.streamingHeavyHitters(in.toDS(), capacity = 64)
      .toDF("user_key", "event_type", "cnt", "n_user")
    val got = runToMemory(spark, "replay_heavy_hitters", out, mode = "update") { q =>
      Seq(b1, b2).foreach { b =>
        in.addData(b.map(toKafkaShaped).toSeq); q.processAllAvailable()
      }
    }
    QOps.ordered1(
      got
        .groupBy(col("user_key"), col("event_type"))
        .agg(max(col("cnt")).as("cnt"), max(col("n_user")).as("n_user")),
      col("user_key"), col("event_type"))
  }

  /** Streaming temporal (backward as-of) enrichment
    * (StreamJobs.temporalEnrich): each view picks up the user's latest
    * purchase id at-or-before its event time from the state-store version
    * history. One batch per side: rows fold in (ms, updates-first, value)
    * order, so the result is the ms-granularity as-of join the oracle
    * computes (state timestamps are Timestamp.getTime milliseconds). */
  private def temporalEnrichReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val uIn = MemoryStream[Ev](spark)
    val eIn = MemoryStream[Ev](spark)
    def shape(df: DataFrame) = df.select(
      col("key").cast("string").as("key"),
      col("eid").cast("string").as("value"), col("timestamp"))
    val out = StreamJobs.temporalEnrich(shape(uIn.toDF()), shape(eIn.toDF()))
    feedBoth(eIn, uIn, evs)
    val got = runToMemory(spark, "replay_temporal_enrich", out.toDF())(_.processAllAvailable())
    QOps.ordered1(
      got.select(
        col("key").as("user_key"), col("value").as("view_id"),
        col("dim_value").as("purchase_id"), col("tsMs").as("ts_ms")),
      col("user_key"), col("ts_ms"), col("view_id"))
  }

  /** Custom-state sessionization (StreamJobs.sessionize,
    * flatMapGroupsWithState + ProcessingTimeTimeout): all rows land in one
    * batch, so each user accumulates exactly one open session; a real
    * wall-clock quiet period then a nudge batch fires every timeout and
    * CLOSES the sessions. The per-user summary equals the batch per-user
    * rollup (timestamps compared at the state store's ms granularity). */
  private def sessionizeReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val in = MemoryStream[KafkaShaped](spark)
    val out = StreamJobs.sessionize(in.toDS(), gapMs = 1000L).toDF()
    // NO processAllAvailable and NO sentinel: with ProcessingTimeTimeout
    // the engine keeps planning no-data batches to fire due timeouts, so
    // processAllAvailable never quiesces (it wedged a 12-minute Verify run
    // before this was written) — the StreamJobsSpec pattern instead: feed
    // one batch, let the timeout-driven batches close every session, and
    // POLL the sink against the known closed-session count with a deadline.
    // ProcessingTimeTimeout fires in NO-DATA batches, hence the NoData pin.
    val got = runToMemory(spark, "replay_sessionize", out, pins = Seq(NoData)) { _ =>
      val expected = evs.map(_.key).distinct.length.toLong
      in.addData(evs.map(toKafkaShaped).toSeq)
      val deadline = System.currentTimeMillis + 120000
      // 25 ms poll, not 250: the count() probe is a local-table scan
      // costing ~1 ms, and a coarse poll overshoots the completion instant
      // by up to its full period — pure additive latency inside every
      // Bench-timed run of this replay (guide §1: measure the computation,
      // not the harness's sleep granularity)
      while (spark.table("replay_sessionize").count() < expected &&
          System.currentTimeMillis < deadline)
        Thread.sleep(25)
      // a wedged timeout path must fail HERE with a named cause, not
      // downstream as a confusing oracle hash mismatch on missing rows
      val closed = spark.table("replay_sessionize").count()
      if (closed < expected) throw new IllegalStateException(
        s"sessionizeReplay: poll deadline (120 s) hit with $closed of " +
          s"$expected sessions closed — the ProcessingTimeTimeout batches " +
          "did not fire; result would be incomplete")
    }
    QOps.ordered1(
      got
        .select(col("key").as("user_key"), col("n_events"),
          unix_millis(col("first_ts")).as("first_ms"),
          unix_millis(col("last_ts")).as("last_ms")),
      col("user_key"))
  }

  /** CHAINED debounce (StreamJobs.debounce, flatMapGroupsWithState): per
    * (user, type), keep an event only if it is > 5 min after the previously
    * KEPT one — each kept event opens a fresh window, the form lag() cannot
    * express. Two time-split batches pin the cross-batch quiet window; the
    * oracle walks the same chain with a recursive CTE. Exact µs longs. */
  private def debounceChainedReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamJobs.MetricPoint](spark)
    val out = StreamJobs.debounce(in.toDS(), quietMs = 300000000L).toDF()
    val got = runToMemory(spark, "replay_debounce", out) { q =>
      Seq(b1, b2).foreach { b =>
        in.addData(b.map(e =>
          StreamJobs.MetricPoint(s"${e.key}|${e.value}", e.us, e.dval)).toSeq)
        q.processAllAvailable()
      }
    }
    QOps.ordered1(
      got.select(
        split(col("key"), "\\|").getItem(0).cast("long").as("user_id"),
        split(col("key"), "\\|").getItem(1).as("event_type"),
        col("tsMs").as("us")),
      col("user_id"), col("event_type"), col("us"))
  }

  /** Exact-integer streaming anomaly detection
    * (StreamJobs.anomalyDetectExact): per user, a cents-quantized sample
    * flags when (n·x − S1)² > k²·(n·S2 − S1²) against the PRIOR BigInt
    * state — bit-reproducible, so the oracle is the same integer
    * inequality over a HUGEINT prefix window. Quantization happens in the
    * streaming plan with Spark's `round` (engine-identical half-away); two
    * time-split batches exercise cross-batch state. */
  private def anomalyExactReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[Ev](spark)
    val shaped = in.toDF().select(
      col("key").cast("string").as("key"), col("us").as("tsUs"),
      round(col("dval") * 100).cast("long").as("centi"))
      .as[StreamJobs.ExactMetricPoint]
    val out = StreamJobs.anomalyDetectExact(shaped).toDF()
    val got = runToMemory(spark, "replay_anomaly", out) { q =>
      Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    }
    QOps.ordered1(
      got.select(
        col("key").cast("long").as("user_id"), col("tsUs").as("us"),
        col("centi"), col("n_prior")),
      col("user_id"), col("us"), col("centi"))
  }

  /** Streaming MinHash-LSH near-dup (StreamJobs.streamingNearDup): every
    * document's 4 md5-derived band keys probe the stateful bucket index;
    * non-owners of an occupied bucket emit a hit. All docs share one
    * synthetic timestamp in one batch, so ownership is min doc_id and the
    * oracle recomputes the identical signature family in SQL (md5 is
    * available in both engines). */
  private def nearDupReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
      .orderBy("doc_id").select(col("doc_id"), col("text")).collect()
      .map(r => StreamJobs.StreamDoc(r.getLong(0), r.getString(1),
        ts(1704067200000L)))
    val in = MemoryStream[StreamJobs.StreamDoc](spark)
    val out = StreamJobs.streamingNearDup(in.toDS(),
      watermark = "0 seconds", ttlMs = 365L * 24 * 3600 * 1000).toDF()
    val got = runToMemory(spark, "replay_neardup", out) { q =>
      in.addData(docs.toSeq); q.processAllAvailable()
    }
    QOps.ordered1(
      got.select(
        col("docId").as("doc_id"), col("dupOf").as("dup_of"),
        col("band"), col("key")),
      col("doc_id"), col("band"))
  }

  /** The reference's FIRST main — Streamer.main (Streamer.scala:120-202),
    * rebuilt as StreamJobs.summaryPipeline — replayed under the oracle: the
    * events fixture in two deterministic row-count-split batches (the same
    * (ts, event_id) midpoint split every two-batch replay uses), through
    * the REAL topic-table + KV-upsert sinks, read back as one table.
    *
    * Per batch the pipeline emits (a) one formatted summary line to the
    * topic table, (b) the same line as a KV cell at rowkey = batch epoch
    * second, and (c) the batch's distinct (key, value) messages as bulk KV
    * cells at rowkey = epochSec-key — all stamped with the batch time
    * (max event ts), so the sink's last-write-wins merge is deterministic:
    * ts ties fall to the cell_value tiebreak. The oracle rebuilds the
    * batch split, the summary strings, and the LWW merge in SQL. Output
    * rows are tagged 'topic' | 'kv' so ONE hash covers both sinks.
    */
  private def summaryReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    withTempDir("graft_replay_summary") { root =>
      val topicSink = new TopicTableSink(root + "/topic")
      val kvSink = new KvUpsertSink(root + "/kv")
      val in = MemoryStream[Ev](spark)
      // the pipeline consumes the Kafka pair shape (key, value, timestamp);
      // key cast to string = the reference's String key
      val shaped = in.toDF().select(
        col("key").cast("string").as("key"), col("value"), col("timestamp"))
      withReplayConf(spark) {
        val q = StreamJobs.summaryPipeline(shaped, "events", "out",
          topicSink, kvSink,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          checkpoint = Some(root + "/ckpt"))
        try Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
        finally StreamQuiet.quietStop(q)
      }
      val kv = kvSink.read(spark).select(
        lit("kv").as("src"), col("rowkey").as("k1"), col("cf").as("k2"),
        col("qualifier").as("k3"), col("cell_value").as("v"))
      val topic = topicSink.read(spark).select(
        lit("topic").as("src"), col("topic").as("k1"), lit("").as("k2"),
        lit("").as("k3"), col("value").as("v"))
      materialize(QOps.ordered1(kv.unionAll(topic),
        col("src"), col("k1"), col("k3"), col("v")))
    }
  }

  private val summarySql =
    """WITH ordered AS (
      |  SELECT user_id, event_type, ts,
      |         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
      |         COUNT(*) OVER () AS m
      |  FROM events
      |), batched AS (
      |  SELECT *, CASE WHEN rn <= m // 2 THEN 1 ELSE 2 END AS b FROM ordered
      |), bstats AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n, MAX(ts) AS bts
      |  FROM batched GROUP BY b
      |), summaries AS (
      |  SELECT b, bts,
      |    CAST(CAST(floor(epoch(bts)) AS BIGINT) AS VARCHAR) AS sec,
      |    'Spark - date:' || strftime(bts, '%Y/%m/%d %H:%M')
      |      || ' from topic: events - number of RDD (batches): ' || b
      |      || ' - number of message ' || n AS line
      |  FROM bstats
      |), cells AS (
      |  SELECT sec AS rowkey, 'cf1' AS cf, 'messages' AS qualifier,
      |         line AS cell_value, bts AS ts
      |  FROM summaries
      |  UNION ALL
      |  SELECT s.sec || '-' || d.user_id, 'cf1', 'content',
      |         d.user_id || '--|--' || d.event_type, s.bts
      |  FROM (SELECT DISTINCT b, user_id, event_type FROM batched) d
      |  JOIN summaries s USING (b)
      |), merged AS (
      |  SELECT rowkey, cf, qualifier, cell_value,
      |         ROW_NUMBER() OVER (PARTITION BY rowkey, cf, qualifier
      |                            ORDER BY ts DESC, cell_value DESC) AS rnk
      |  FROM cells
      |)
      |SELECT * FROM (
      |  SELECT 'kv' AS src, rowkey AS k1, cf AS k2, qualifier AS k3,
      |         cell_value AS v
      |  FROM merged WHERE rnk = 1
      |  UNION ALL
      |  SELECT 'topic', 'out', '', '', line FROM summaries
      |)
      |ORDER BY src, k1, k3, v""".stripMargin

  /** The reference's SECOND main — KafkaStreamerToHbase.main
    * (KafkaStreamerToHbase.scala:87-167), rebuilt as
    * StreamJobs.perRecordPipeline — replayed under the oracle: every record
    * upserts a cell at rowkey = its epoch SECOND, so all records within one
    * second collide and last-write-wins leaves ≤1 surviving cell per
    * second. Two row-count-split batches exercise the sink's cross-batch
    * incremental merge (a second spanning the split must still converge to
    * the global survivor). Survivor rule (KvUpsertSink): max full-precision
    * ts, ties by max cell_value — deterministic, and replayed by the
    * oracle's window. */
  private def perRecordReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    withTempDir("graft_replay_per_record") { root =>
      val kvSink = new KvUpsertSink(root + "/kv")
      val in = MemoryStream[Ev](spark)
      val shaped = in.toDF().select(
        col("key").cast("string").as("key"), col("value"), col("timestamp"))
      withReplayConf(spark) {
        val q = StreamJobs.perRecordPipeline(shaped, kvSink,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          checkpoint = Some(root + "/ckpt"))
        try Seq(b1, b2).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
        finally StreamQuiet.quietStop(q)
      }
      materialize(QOps.ordered1(
        kvSink.read(spark)
          .select(col("rowkey"), col("cf"), col("qualifier"), col("cell_value")),
        col("rowkey")))
    }
  }

  private val perRecordSql =
    """WITH r AS (
      |  SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS rowkey,
      |         user_id || '--|--' || event_type AS cell_value,
      |         ROW_NUMBER() OVER (
      |           PARTITION BY CAST(floor(epoch(ts)) AS BIGINT)
      |           ORDER BY ts DESC, user_id || '--|--' || event_type DESC) AS rn
      |  FROM events
      |)
      |SELECT rowkey, 'cf1' AS cf, 'message' AS qualifier, cell_value
      |FROM r WHERE rn = 1 ORDER BY rowkey""".stripMargin

  /** Crash-restart replay — the exactly-once claim under the oracle: batch
    * 1 runs under query q1, q1 STOPS, a NEW query q2 resumes from the SAME
    * checkpoint (state store + file-sink log recovered), batch 2 and the
    * watermark sentinels run under q2, and the durable parquet sink is read
    * back. The oracle is the UNCHANGED batch session SQL: sessions
    * straddling the restart only merge if q2 really restored q1's open
    * session state, and the file-sink commit log guarantees no batch-1 row
    * is duplicated — any recovery defect is a hash mismatch. This is the
    * restart-safety the reference's driver `var counter` could never have
    * (SURVEY §2.3 A4). */
  private def restartReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    withTempDir("graft_replay_restart") { root =>
      withReplayConf(spark) {
        val in = MemoryStream[Ev](spark)
        val pipe = StreamJobs.sessionWindowCounts(in.toDF(), "30 minutes",
          "0 seconds")
        def start() = pipe.writeStream.outputMode("append")
          .option("checkpointLocation", root + "/ckpt")
          .option("path", root + "/out")
          .format("parquet").start()
        val q1 = start()
        try { in.addData(b1.toSeq); q1.processAllAvailable() } finally StreamQuiet.quietStop(q1)
        val q2 = start() // SAME checkpoint, SAME sink: resume, not rebuild
        try { in.addData(b2.toSeq); q2.processAllAvailable(); flush(q2, evs, Seq(in)) }
        finally StreamQuiet.quietStop(q2)
        materialize(QOps.ordered1(
          spark.read.parquet(root + "/out").filter(col("key") >= 0)
            .select(col("key").as("user_id"),
              col("session_start").cast("timestamp_ntz").as("session_start"),
              col("session_end").cast("timestamp_ntz").as("session_end"),
              col("n")),
          col("user_id"), col("session_start")))
      }
    }
  }

  /** Streaming drift monitor (StreamJobs.streamingDriftMonitor) replayed to
    * completion: per-hour event-type mix scored by exact-integer Hellinger²
    * (picos) against the static full-fixture baseline, alarm at h2 ≥ 1e10
    * (hellinger ≈ 0.07). One batch + the two watermark sentinels close
    * every real window; sentinel windows (key 's', hours past the data)
    * are filtered by window_start, and the sentinel key contributes
    * exactly-zero terms to real windows (n=0, qc=0). The emitted
    * `hellinger` double is derived from h2_pico and excluded from the
    * compare (redundant with the exact column). */
  private def driftReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val baseline = cappedEvents(spark, dir)
      .groupBy(col("event_type").as("key"))
      .agg(count(lit(1)).as("qc"))
    withTempDir("graft_replay_drift") { root =>
      val sink = new TopicTableSink(root + "/t")
      val in = MemoryStream[Ev](spark)
      // drift is over the TYPE mix: key = event_type (the Ev value column)
      val shaped = in.toDF().select(col("value").as("key"), col("timestamp"))
      withReplayConf(spark) {
        val q = StreamJobs.streamingDriftMonitor(shaped, "1 hour", "0 seconds",
          baseline, sink, alarmPico = 10000000000L,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
          checkpoint = Some(root + "/ckpt"))
        try { in.addData(evs.toSeq); q.processAllAvailable(); flush(q, evs, Seq(in)) }
        finally StreamQuiet.quietStop(q)
      }
      val maxMs = evs.map(_.timestamp.getTime).max
      val maxHour = new Timestamp(maxMs - Math.floorMod(maxMs, 3600000L))
      materialize(QOps.ordered1(
        sink.read(spark)
          .filter(col("window_start") <= lit(maxHour))
          .select(col("window_start").cast("timestamp_ntz").as("window_start"),
            col("n_events"), col("h2_pico"), col("alarm")),
        col("window_start")))
    }
  }

  private val driftSql =
    """WITH bl AS (
      |  SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS qc
      |  FROM events GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(qc) AS BIGINT) AS nq FROM bl
      |), wc AS (
      |  SELECT date_trunc('hour', ts) AS window_start, event_type AS key,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2
      |), wn AS (
      |  SELECT window_start, CAST(SUM(n) AS BIGINT) AS nd FROM wc GROUP BY 1
      |), diffs AS (
      |  SELECT w.window_start, w.nd,
      |    sqrt(CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(w.nd AS DOUBLE))
      |      - sqrt(CAST(b.qc AS DOUBLE) / CAST(t.nq AS DOUBLE)) AS d
      |  FROM wn w CROSS JOIN bl b CROSS JOIN tot t
      |  LEFT JOIN wc c ON c.window_start = w.window_start AND c.key = b.key
      |)
      |SELECT window_start, MAX(nd) AS n_events,
      |  CAST(SUM(CAST(ROUND(d * d * 1e12) AS BIGINT)) AS BIGINT) AS h2_pico,
      |  SUM(CAST(ROUND(d * d * 1e12) AS BIGINT)) >= 10000000000 AS alarm
      |FROM diffs GROUP BY window_start ORDER BY window_start""".stripMargin

  /** Float Welford anomaly detection (StreamJobs.anomalyDetect) replayed in
    * two time-split batches. The state is IEEE doubles, but the fold is a
    * fixed-order recurrence (rows sorted by (µs, value) per batch, batches
    * in order), and IEEE +,−,×,÷,sqrt,abs are correctly rounded in both
    * engines — so a DuckDB recursive CTE replaying the identical expression
    * tree reproduces every double bit-for-bit, and the flag set plus the
    * ppm-quantized prior mean/σ hash-match exactly (same argument as the
    * bit-exact `cosine_topk_fast` codegen check). */
  private def anomalyFloatReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = fixture(spark, dir)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val in = MemoryStream[StreamJobs.MetricPoint](spark)
    val out = StreamJobs.anomalyDetect(in.toDS(), k = 3.0, minPrior = 5L).toDF()
    val got = runToMemory(spark, "replay_anomaly_float", out) { q =>
      Seq(b1, b2).foreach { b =>
        in.addData(b.map(e =>
          StreamJobs.MetricPoint(e.key.toString, e.us, e.dval)).toSeq)
        q.processAllAvailable()
      }
    }
    QOps.ordered1(
      got.select(
        col("key").cast("long").as("user_id"), col("tsMs").as("us"),
        round(col("value") * 100).cast("long").as("centi"),
        round(col("mean") * 1e6).cast("long").as("mean_ppm"),
        round(col("stddev") * 1e6).cast("long").as("sd_ppm"),
        col("n_prior")),
      col("user_id"), col("us"), col("centi"))
  }

  private val anomalyFloatSql =
    """WITH RECURSIVE ordered AS (
      |  SELECT user_id, epoch_us(ts) AS us, value, event_id,
      |         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
      |         COUNT(*) OVER () AS m
      |  FROM events
      |), seq AS (
      |  -- fold order: batch (midpoint row-count split), then (µs, value)
      |  -- inside each batch — the pipeline's per-batch sort key; event_id
      |  -- only breaks exact (us, value) ties, where rows are
      |  -- interchangeable
      |  SELECT user_id, us, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY (rn > m // 2), us, value, event_id) AS i
      |  FROM ordered
      |), fold AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n,
      |         CAST(0 AS DOUBLE) AS mean, CAST(0 AS DOUBLE) AS m2,
      |         CAST(NULL AS BIGINT) AS us, CAST(NULL AS DOUBLE) AS x,
      |         FALSE AS flagged, CAST(NULL AS DOUBLE) AS prior_mean,
      |         CAST(NULL AS DOUBLE) AS prior_sd, CAST(NULL AS BIGINT) AS prior_n
      |  FROM (SELECT DISTINCT user_id FROM seq)
      |  UNION ALL
      |  SELECT s.user_id, s.i, f.n + 1,
      |         f.mean + (s.value - f.mean) / (f.n + 1),
      |         f.m2 + (s.value - f.mean)
      |           * (s.value - (f.mean + (s.value - f.mean) / (f.n + 1))),
      |         s.us, s.value,
      |         f.n >= 5 AND abs(s.value - f.mean) > 3 * sqrt(f.m2 / f.n),
      |         f.mean,
      |         CASE WHEN f.n > 0 THEN sqrt(f.m2 / f.n) END,
      |         f.n
      |  FROM fold f JOIN seq s ON s.user_id = f.user_id AND s.i = f.i + 1
      |)
      |SELECT user_id, us,
      |  CAST(ROUND(x * 100) AS BIGINT) AS centi,
      |  CAST(ROUND(prior_mean * 1e6) AS BIGINT) AS mean_ppm,
      |  CAST(ROUND(prior_sd * 1e6) AS BIGINT) AS sd_ppm,
      |  prior_n AS n_prior
      |FROM fold WHERE flagged
      |ORDER BY user_id, us, centi""".stripMargin

  /** Streaming benchmark decontamination (StreamJobs.streamingDecontaminate)
    * replayed: benchmark = documents with doc_id < 10 (their distinct
    * 3-token shingles), corpus = the doc_id ≥ 10 stream; emits every
    * confirmed (doc, shingle) hit. The bloom phase is cost-only (false
    * positives removed by the exact semi-join), so the oracle is the plain
    * shingle equi-join — duplicates preserved (a doc repeating a
    * contaminated shingle emits it once per occurrence in both engines). */
  private def decontaminateReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") < 10)
      .withColumn("toks", split(col("text"), " "))
      .select(explode(when(size(col("toks")) >= 3,
        graft.operators.DedupOps.shingles3(col("toks")))
        .otherwise(array())).as("sh"))
      .distinct()
    val corpus = docs.filter(col("doc_id") >= 10)
      .orderBy("doc_id").select(col("doc_id"), col("text")).collect()
      .map(r => StreamJobs.StreamDoc(r.getLong(0), r.getString(1),
        ts(1704067200000L)))
    val in = MemoryStream[StreamJobs.StreamDoc](spark)
    val out = StreamJobs.streamingDecontaminate(in.toDS(), bench)
    val got = runToMemory(spark, "replay_decontaminate", out) { q =>
      in.addData(corpus.toSeq); q.processAllAvailable()
    }
    QOps.ordered1(
      got
        .select(col("docId").as("doc_id"), col("sh")),
      col("doc_id"), col("sh"))
  }

  private val decontaminateSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), shl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) >= 3
      |         THEN list_transform(generate_series(1, len(tk) - 2),
      |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |         ELSE [] END AS shs
      |  FROM toks
      |), bench AS (
      |  SELECT DISTINCT unnest(shs) AS sh FROM shl WHERE doc_id < 10
      |), corpus AS (
      |  SELECT doc_id, unnest(shs) AS sh FROM shl WHERE doc_id >= 10
      |)
      |SELECT c.doc_id, c.sh
      |FROM corpus c JOIN bench b USING (sh)
      |ORDER BY c.doc_id, c.sh""".stripMargin

  /** Session-window SQL shared with the batch `session_windows` oracle
    * (TimeWindowOps), reduced to the replayed columns. */
  private val sessionSql =
    """WITH o AS (
      |  SELECT user_id, ts,
      |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, ts,
      |         CASE WHEN prev_ts IS NULL
      |                OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      |  FROM o
      |), numbered AS (
      |  SELECT user_id, ts,
      |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id,
      |  MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM numbered GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  private val distinctPairSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  override def queries: Seq[Q] =
    rawQueries.map(q => q.copy(oracle = q.oracle.map(capEventsOracle)))

  private def rawQueries: Seq[Q] = Seq(
    Q("streaming_summary_replay", summaryReplay, Some(summarySql)),
    Q("streaming_per_record_replay", perRecordReplay, Some(perRecordSql)),
    // restart-from-checkpoint: SAME oracle as the non-restart session
    // replay — recovery is correct iff the hash doesn't move
    Q("streaming_restart_replay", restartReplay, Some(sessionSql)),
    Q("streaming_drift_replay", driftReplay, Some(driftSql)),
    Q("streaming_anomaly_float_replay", anomalyFloatReplay, Some(anomalyFloatSql)),
    Q("streaming_decontaminate_replay", decontaminateReplay, Some(decontaminateSql)),
    Q("streaming_session_replay", sessionReplay, Some(sessionSql)),
    Q("streaming_window_counts_replay", windowCountsReplay, Some(
      """SELECT date_trunc('hour', ts) AS window_start, user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("streaming_watermark_drop_replay", watermarkDropReplay, Some(
      """WITH wm AS (
        |  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 90000000000 AS wm_us
        |  FROM events WHERE user_id % 2 = 0
        |), surv AS (
        |  SELECT user_id, ts FROM events WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT user_id, ts FROM events, wm
        |  WHERE user_id % 2 <> 0
        |    AND epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY)
        |        > COALESCE(wm_us, -4611686018427387904)
        |)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |  user_id, CAST(COUNT(*) AS BIGINT) AS n
        |FROM surv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("streaming_dedup_replay", dedupReplay, Some(distinctPairSql)),
    Q("streaming_dedup_ww_replay", dedupWwReplay, Some(distinctPairSql)),
    Q("streaming_topk_replay", topkReplay, Some(
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS window_start, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT window_start, user_id, n,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY window_start
        |                            ORDER BY n DESC, user_id) AS BIGINT) AS rk
        |  FROM c
        |)
        |SELECT window_start, user_id, n, rk FROM r WHERE rk <= 3
        |ORDER BY window_start, rk""".stripMargin)),
    Q("streaming_join_replay", joinReplay, Some(
      """SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin)),
    Q("streaming_left_join_replay", leftJoinReplay, Some(
      """SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin)),
    Q("streaming_full_join_replay", fullOuterJoinReplay, Some(
      """SELECT COALESCE(v.user_id, p.user_id) AS user_id,
        |  v.ts AS view_ts, p.ts AS purchase_ts
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |FULL OUTER JOIN
        |  (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin)),
    Q("streaming_dedup_agg_replay", dedupAggReplay, Some(
      """WITH d AS (
        |  SELECT DISTINCT user_id, event_type, ts FROM events
        |)
        |SELECT date_trunc('hour', ts) AS window_start, user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("streaming_rate_limit_replay", rateLimitReplay, Some(
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 86400000000
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_id FROM r WHERE rn <= 3
        |ORDER BY user_id, event_id""".stripMargin)),
    // transformWithState event-time timers: same oracle as the session
    // replays — the timer path is correct iff the hash doesn't move
    Q("streaming_tws_session_replay", twsSessionReplay, Some(sessionSql)),
    Q("streaming_tws_restart_replay", twsRestartReplay, Some(sessionSql)),
    // transformWithState composite state (ListState trail + MapState
    // counts + TTL): per-row rank/trailing-max = two batch windows
    Q("streaming_tws_trail_replay", trailStatsReplay, Some(
      """SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |       ORDER BY ts, event_id) AS BIGINT) AS type_rank,
        |  MAX(CAST(ROUND(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS trail_max_cents
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    Q("streaming_enrich_replay", enrichReplay, Some(
      """SELECT user_id, event_type, ts,
        |  CASE WHEN user_id % 4 <> 3 THEN
        |    (CASE WHEN user_id % 3 = 0 THEN 'gold'
        |          WHEN user_id % 3 = 1 THEN 'silver' ELSE 'bronze' END)
        |  ELSE 'unknown' END AS tier
        |FROM events ORDER BY user_id, ts, event_type""".stripMargin)),
    Q("streaming_running_counts_replay", runningCountsReplay, Some(
      """SELECT CAST(user_id AS VARCHAR) AS user_key,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("streaming_heavy_hitters_replay", heavyHittersReplay, Some(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_key, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_key,
        |    CAST(COUNT(*) AS BIGINT) AS n_user
        |  FROM events GROUP BY 1
        |)
        |SELECT c.user_key, c.event_type, c.cnt, t.n_user
        |FROM c JOIN t USING (user_key)
        |ORDER BY 1, 2""".stripMargin)),
    Q("streaming_temporal_enrich_replay", temporalEnrichReplay, Some(
      """WITH v AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_key,
        |    CAST(event_id AS VARCHAR) AS view_id, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type = 'view'
        |), p AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_key,
        |    CAST(event_id AS VARCHAR) AS pid, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT v.user_key, v.view_id, v.ms, p.pid,
        |    ROW_NUMBER() OVER (PARTITION BY v.user_key, v.view_id, v.ms
        |                       ORDER BY p.ms DESC, p.pid DESC) AS rn
        |  FROM v LEFT JOIN p
        |    ON p.user_key = v.user_key AND p.ms <= v.ms
        |)
        |SELECT user_key, view_id, pid AS purchase_id, ms AS ts_ms
        |FROM j WHERE rn = 1 ORDER BY user_key, ts_ms, view_id""".stripMargin)),
    Q("streaming_sessionize_replay", sessionizeReplay, Some(
      """SELECT CAST(user_id AS VARCHAR) AS user_key,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("streaming_debounce_replay", debounceChainedReplay, Some(
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), kept AS (
        |  SELECT user_id, event_type, MIN(us) AS us FROM e GROUP BY 1, 2
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.us
        |  FROM e JOIN kept
        |    ON e.user_id = kept.user_id AND e.event_type = kept.event_type
        |   AND e.us > kept.us + 300000000
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e e2
        |    WHERE e2.user_id = e.user_id AND e2.event_type = e.event_type
        |      AND e2.us > kept.us + 300000000 AND e2.us < e.us)
        |)
        |SELECT DISTINCT user_id, event_type, us FROM kept
        |ORDER BY 1, 2, 3""".stripMargin)),
    Q("streaming_anomaly_exact_replay", anomalyExactReplay, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS x
        |  FROM events
        |), sums AS (
        |  SELECT user_id, us, x,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    COALESCE(SUM(x) OVER wp, 0) AS s1,
        |    COALESCE(SUM(x * x) OVER wp, 0) AS s2
        |  FROM e
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY us, x
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, us, CAST(x AS BIGINT) AS centi, n AS n_prior
        |FROM sums
        |WHERE n >= 5 AND (n*x - s1)*(n*x - s1) > 9 * (n*s2 - s1*s1)
        |ORDER BY 1, 2, 3""".stripMargin)),
    Q("streaming_neardup_replay", nearDupReplay, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
        |  FROM documents
        |), shl AS (
        |  SELECT doc_id,
        |    -- COALESCE: array_to_string([]) is NULL in DuckDB where the
        |    -- streaming side's mkString on zero tokens is '' (hostile docs)
        |    CASE WHEN len(tk) < 3 THEN [COALESCE(array_to_string(tk, ' '), '')]
        |         ELSE list_transform(generate_series(1, len(tk) - 2),
        |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS shs
        |  FROM toks
        |), shx AS (
        |  SELECT DISTINCT doc_id, unnest(shs) AS sh FROM shl
        |), hashes AS (
        |  SELECT doc_id, g.i,
        |    MIN(CAST(concat('0x',
        |        substr(md5('mh:' || g.i || ':' || sh), 1, 15)) AS BIGINT)) AS mh
        |  FROM shx, (SELECT unnest(generate_series(0, 15)) AS i) g
        |  GROUP BY doc_id, g.i
        |), bands AS (
        |  SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ':' ORDER BY i) AS key
        |  FROM hashes GROUP BY doc_id, i // 4
        |), own AS (
        |  SELECT band, key, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2
        |)
        |SELECT b.doc_id, o.owner AS dup_of, b.band, b.key
        |FROM bands b JOIN own o USING (band, key)
        |WHERE b.doc_id <> o.owner
        |ORDER BY b.doc_id, b.band""".stripMargin))
  )
}
