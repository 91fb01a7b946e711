package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._

/** Structured Streaming rebuilds of the reference pipelines (SURVEY.md §3),
  * driven by MemoryStream with processAllAvailable (per-batch synchronous).
  */
class StreamJobsSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def rec(key: String, value: String, sec: Long, off: Long) =
    KafkaShaped(key, value, "page_visits", 0, off, new Timestamp(sec * 1000))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_stream").toString

  test("summaryPipeline emits one reference-shaped summary per batch with batchId") {
    val in = MemoryStream[KafkaShaped]
    val topicSink = new TopicTableSink(tmp() + "/topic")
    val kvSink = new KvUpsertSink(tmp() + "/kv")
    // enqueue before start: AvailableNow snapshots offsets at query start
    in.addData(rec("a", "1", 1000, 0), rec("a", "1", 1000, 1), rec("b", "2", 1001, 2))
    val q = StreamJobs.summaryPipeline(in.toDF(), "page_visits", "out",
      topicSink, kvSink, Trigger.AvailableNow())
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)

    val topic = topicSink.read(spark)
    assert(topic.count() === 1)
    val line = topic.select($"value").as[String].head()
    assert(line.contains("number of RDD (batches): 1"))
    assert(line.contains("number of message 3"))

    val kv = kvSink.read(spark)
    // summary cell + 2 distinct bulk cells ((a,1) dup collapsed by D1)
    assert(kv.filter($"qualifier" === "messages").count() === 1)
    assert(kv.filter($"qualifier" === "content").count() === 2)
  }

  test("summaryPipeline batchId advances across batches (replaces driver var)") {
    val in = MemoryStream[KafkaShaped]
    val topicSink = new TopicTableSink(tmp() + "/topic")
    val kvSink = new KvUpsertSink(tmp() + "/kv")
    val q = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
      topicSink, kvSink, Trigger.ProcessingTime(0))
    in.addData(rec("a", "1", 2000, 0))
    q.processAllAvailable()
    in.addData(rec("b", "2", 3000, 1))
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val lines = topicSink.read(spark).select($"value").as[String].collect().sorted
    assert(lines.exists(_.contains("batches): 1")))
    assert(lines.exists(_.contains("batches): 2")))
  }

  test("update-mode aggregation emits only the rows changed by each trigger") {
    val in = MemoryStream[KafkaShaped]
    val counts = in.toDF().groupBy($"key").count()
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("um").start()
    in.addData(rec("a", "1", 1000, 0), rec("b", "2", 1001, 1))
    q.processAllAvailable()
    in.addData(rec("a", "3", 1002, 2)) // only 'a' changes in batch 2
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    // update mode appends each trigger's CHANGED rows to the sink: 'a'
    // appears at counts 1 then 2, 'b' only once — unlike complete mode, the
    // sink is a changelog, not a snapshot
    val rows = spark.table("um").as[(String, Long)].collect().sorted.toSeq
    assert(rows === Seq("a" -> 1L, "a" -> 2L, "b" -> 1L))
  }

  test("complete-mode aggregation re-emits the full state every trigger") {
    val in = MemoryStream[KafkaShaped]
    val counts = in.toDF().groupBy($"key").count()
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("cm").start()
    in.addData(rec("a", "1", 1000, 0), rec("a", "2", 1001, 1))
    q.processAllAvailable()
    assert(spark.table("cm").as[(String, Long)].collect().toMap === Map("a" -> 2L))
    in.addData(rec("b", "3", 1002, 2))
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    // complete mode: the sink holds the WHOLE refreshed state, not a delta
    assert(spark.table("cm").as[(String, Long)].collect().toMap ===
      Map("a" -> 2L, "b" -> 1L))
  }

  test("streamStaticEnrich broadcasts the dim and falls back on unmatched keys") {
    val in = MemoryStream[KafkaShaped]
    val dim = Seq(("a", "gold"), ("b", "silver")).toDF("key", "tier")
    val q = StreamJobs.streamStaticEnrich(in.toDF(), dim)
      .writeStream.outputMode("append").format("memory").queryName("sse").start()
    in.addData(rec("a", "1", 1000, 0), rec("c", "3", 1001, 1))
    q.processAllAvailable()
    in.addData(rec("b", "2", 1002, 2)) // second batch re-joins the same dim
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val got = spark.table("sse").select($"key", $"tier").as[(String, String)]
      .collect().sorted.toSeq
    assert(got === Seq("a" -> "gold", "b" -> "silver", "c" -> "unknown"))
  }

  test("perRecordPipeline: rowkey collision leaves one surviving cell per second") {
    val in = MemoryStream[KafkaShaped]
    val kvSink = new KvUpsertSink(tmp() + "/kv")
    // three records in the same epoch second + one in the next (pre-start:
    // AvailableNow snapshots offsets at query start)
    in.addData(rec("a", "1", 5000, 0), rec("b", "2", 5000, 1),
      rec("c", "3", 5000, 2), rec("d", "4", 5001, 3))
    val q = StreamJobs.perRecordPipeline(in.toDF(), kvSink, Trigger.AvailableNow())
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val kv = kvSink.read(spark)
    assert(kv.count() === 2) // one per rowkey(second)
    assert(kv.filter($"rowkey" === "5001").select($"cell_value").as[String].head()
      === "d--|--4")
  }

  test("windowedCounts with watermark drops late data (no reference analog)") {
    val in = MemoryStream[KafkaShaped]
    val counts = StreamJobs.windowedCounts(in.toDF(), "10 seconds", "10 seconds")
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("wc").start()
    in.addData(rec("a", "1", 100, 0), rec("a", "2", 105, 1))
    q.processAllAvailable()
    in.addData(rec("a", "3", 200, 2)) // advances watermark to 190, closes [100,110)
    q.processAllAvailable()
    in.addData(rec("a", "late", 100, 3)) // behind watermark → dropped
    q.processAllAvailable()
    in.addData(rec("a", "4", 300, 4)) // closes [200,210)
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select * from wc")
      .select(unix_timestamp($"window_start").as[Long], $"n".as[Long]).collect().toMap
    assert(rows(100L) === 2L) // the late record did NOT bump the closed window
    assert(rows(200L) === 1L)
  }

  test("windowedTopK: closed-window trending equals the batch top-k; " +
      "late rows cannot resurface a closed window") {
    val in = MemoryStream[KafkaShaped]
    val out = new TopicTableSink(tmp() + "/topk")
    val q = StreamJobs.windowedTopK(in.toDF(), "10 seconds", "10 seconds", 2, out)
    // window [100,110): a×3, b×2, c×1 → top-2 should be a(3), b(2)
    in.addData(rec("a", "1", 100, 0), rec("a", "2", 101, 1), rec("a", "3", 102, 2),
      rec("b", "4", 103, 3), rec("b", "5", 104, 4), rec("c", "6", 105, 5))
    q.processAllAvailable()
    in.addData(rec("x", "7", 200, 6)) // watermark → 190, closes [100,110)
    q.processAllAvailable()
    // five late c-rows: on time they would have made c the window's top key —
    // behind the watermark they must be dropped, not re-rank the closed window
    in.addData(rec("c", "l1", 101, 7), rec("c", "l2", 102, 8), rec("c", "l3", 103, 9),
      rec("c", "l4", 104, 10), rec("c", "l5", 105, 11))
    q.processAllAvailable()
    in.addData(rec("y", "8", 300, 12)) // watermark → 290, closes [200,210)
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)

    val got = out.read(spark)
      .select(unix_timestamp($"window_start").as[Long], $"key".as[String],
        $"n".as[Long], $"rk".as[Long])
      .collect().toSeq.sorted
    // batch oracle: the same top-k over the ON-TIME events of closed windows
    val onTime = Seq(("a", 100L), ("a", 101L), ("a", 102L), ("b", 103L),
      ("b", 104L), ("c", 105L), ("x", 200L))
      .toDF("key", "sec")
      .withColumn("timestamp", col("sec").cast("timestamp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"window_start").orderBy($"n".desc, $"key")
    val oracle = onTime
      .groupBy(window($"timestamp", "10 seconds"), $"key")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("window_start"), $"key", $"n")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 2)
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    assert(got === oracle)
    // and concretely: [100,110) stayed a(1st), b(2nd); c never surfaced
    assert(got.filter(_._1 == 100L) ===
      Seq((100L, "a", 3L, 1L), (100L, "b", 2L, 2L)))
  }

  test("streamingDriftMonitor: closed-window Hellinger equals the batch " +
      "recompute; matching mix scores 0; skewed mix alarms") {
    val in = MemoryStream[KafkaShaped]
    val out = new TopicTableSink(tmp() + "/drift")
    // baseline mix: a:2, b:2 (uniform)
    val baseline = Seq(("a", 2L), ("b", 2L)).toDF("key", "qc")
    val q = StreamJobs.streamingDriftMonitor(
      in.toDF(), "10 seconds", "10 seconds", baseline, out, alarmPico = 100000000000L)
    // window [100,110): a×2, b×2 — exactly the baseline mix → H = 0
    in.addData(rec("a", "1", 100, 0), rec("a", "2", 101, 1),
      rec("b", "3", 102, 2), rec("b", "4", 103, 3))
    q.processAllAvailable()
    // window [200,210): all c (a key the baseline has never seen) → max drift
    in.addData(rec("c", "5", 200, 4), rec("c", "6", 201, 5))
    q.processAllAvailable()
    in.addData(rec("a", "7", 300, 6)) // watermark → 290, closes [200,210)
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val got = out.read(spark)
      .select(unix_timestamp($"window_start").as[Long], $"n_events".as[Long],
        $"h2_pico".as[Long], $"hellinger".as[Double], $"alarm".as[Boolean])
      .collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(100L, 200L))
    val w1 = got(0)
    assert(w1._2 === 4L)
    assert(w1._3 === 0L) // identical mix: every (√p−√q)² term is exactly 0
    assert(w1._4 === 0.0)
    assert(!w1._5)
    val w2 = got(1)
    // batch recompute: keys {a,b,c}, window mix c=1.0; baseline a=.5, b=.5
    val terms = Seq(
      math.sqrt(0.0) - math.sqrt(0.5), // a
      math.sqrt(0.0) - math.sqrt(0.5), // b
      math.sqrt(1.0) - math.sqrt(0.0)) // c
      .map(d => math.round(d * d * 1e12)).sum
    assert(w2._2 === 2L)
    assert(w2._3 === terms)
    assert(w2._4 === math.sqrt(terms.toDouble / 2e12))
    assert(w2._5) // disjoint support → H = 1 → far above the alarm line
  }

  test("streamingHeavyHitters: bounded Misra-Gries state obeys the " +
      "frequency-error guarantee against a batch recount") {
    val in = MemoryStream[KafkaShaped]
    val cap = 3
    val q = StreamJobs.streamingHeavyHitters(in.toDS(), cap)
      .writeStream.outputMode("update").format("memory").queryName("mg").start()
    // skewed value stream across two batches, plus distinct-value churn
    // far beyond the 3-slot capacity
    val b1 = Seq.fill(20)("hot") ++ Seq.fill(8)("warm") ++
      (1 to 12).map(i => s"cold$i")
    val b2 = Seq.fill(15)("hot") ++ Seq.fill(6)("tepid") ++
      (13 to 24).map(i => s"cold$i")
    in.addData(b1.zipWithIndex.map { case (v, i) => rec("k", v, 100 + i, i) }: _*)
    q.processAllAvailable()
    in.addData(b2.zipWithIndex.map { case (v, i) => rec("k", v, 300 + i, 100 + i) }: _*)
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    // latest trigger's rows for key k
    val rows = spark.sql("select * from mg").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 == "k")
    val n = (b1 ++ b2).length.toLong
    val latest = rows.filter(_._4 == n)
    assert(latest.nonEmpty && latest.length <= cap) // bounded state
    val trueCounts = (b1 ++ b2).groupBy(identity).view.mapValues(_.length.toLong)
    latest.foreach { case (_, v, est, total) =>
      assert(total === n)
      val t = trueCounts.getOrElse(v, 0L)
      assert(est <= t, s"$v overestimated")              // MG never overcounts
      assert(est >= t - n / (cap + 1), s"$v undershoots the MG bound")
    }
    // any value with frequency > n/(cap+1) is guaranteed tracked
    trueCounts.filter(_._2 > n / (cap + 1)).keys.foreach { hot =>
      assert(latest.exists(_._2 == hot), s"guaranteed heavy hitter $hot missing")
    }
  }

  test("streamingDedup dedups across batches within the watermark") {
    val in = MemoryStream[KafkaShaped]
    val q = StreamJobs.streamingDedup(in.toDF(), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sd").start()
    in.addData(rec("a", "1", 100, 0))
    q.processAllAvailable()
    in.addData(rec("a", "1", 150, 1), rec("b", "2", 151, 2)) // (a,1) is a cross-batch dup
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    assert(spark.sql("select * from sd").count() === 2)
  }

  test("session_window works in streaming mode with watermark") {
    val in = MemoryStream[KafkaShaped]
    val sessions = in.toDF()
      .withWatermark("timestamp", "1 minute")
      .groupBy(session_window(col("timestamp"), "30 seconds"), $"key")
      .agg(count(lit(1)).as("n"))
      .select($"key", unix_timestamp($"session_window.start").as("start_sec"),
        unix_timestamp($"session_window.end").as("end_sec"), $"n")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    // u1: two events 10s apart (one session), then 40s gap (new session)
    in.addData(rec("u1", "a", 100, 0), rec("u1", "b", 110, 1), rec("u1", "c", 150, 2))
    q.processAllAvailable()
    in.addData(rec("u1", "d", 400, 3)) // advances watermark, closes sessions
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select * from sess")
      .as[(String, Long, Long, Long)].collect().toSet
    // session 1: [100, 110+30), 2 events; session 2: [150, 150+30), 1 event
    assert(rows.contains(("u1", 100L, 140L, 2L)), rows.toString)
    assert(rows.contains(("u1", 150L, 180L, 1L)), rows.toString)
  }

  test("sessionWindowCounts: closed sessions equal the batch session_window " +
      "on the same rows; a late row cannot reopen a closed session") {
    val in = MemoryStream[KafkaShaped]
    val q = StreamJobs.sessionWindowCounts(in.toDF(), "30 seconds", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("swc").start()
    // u1: burst of 3 (one session), then a 40s gap (second session);
    // u2: single event — all before the watermark moves
    val live = Seq(rec("u1", "a", 100, 0), rec("u1", "b", 110, 1),
      rec("u1", "c", 120, 2), rec("u1", "d", 160, 3), rec("u2", "e", 105, 4))
    in.addData(live: _*)
    q.processAllAvailable()
    // watermark push: closes everything before 400 - 60 = 340
    in.addData(rec("u3", "w", 400, 5))
    q.processAllAvailable()
    val closed = spark.sql("select * from swc")
      .as[(String, Timestamp, Timestamp, Long)].collect().toSet
    // ground truth: the SAME rows through the batch session_window operator
    // (the session_windows catalog query's exact shape)
    val batch = spark.createDataset(live).toDF()
      .groupBy(session_window($"timestamp", "30 seconds"), $"key")
      .agg(count(lit(1)).as("n"))
      .select($"key", $"session_window.start", $"session_window.end", $"n")
      .as[(String, Timestamp, Timestamp, Long)].collect().toSet
    assert(closed === batch, s"closed=$closed batch=$batch")
    // a LATE row inside u1's first (closed) session span: watermark is at
    // 340, the row is at 115 → dropped by the aggregation; no new emission
    // and no reopened/extended session
    in.addData(rec("u1", "late", 115, 6))
    q.processAllAvailable()
    in.addData(rec("u3", "w2", 500, 7)) // push watermark again to flush
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val after = spark.sql("select * from swc")
      .as[(String, Timestamp, Timestamp, Long)].collect().toSet
    assert(after.filter(_._1 == "u1") === closed.filter(_._1 == "u1"),
      "late row must not create, reopen or extend a u1 session")
  }

  test("stream-stream interval join matches keys within the window only") {
    val clicks = MemoryStream[KafkaShaped]
    val buys = MemoryStream[KafkaShaped]
    val joined = StreamJobs.streamStreamJoin(
      clicks.toDF(), buys.toDF(), "10 seconds", "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    clicks.addData(rec("u1", "click1", 100, 0), rec("u2", "click2", 100, 1))
    buys.addData(
      rec("u1", "buy-in-window", 105, 0),   // within 10s of u1 click
      rec("u1", "buy-late", 200, 1),        // outside the interval
      rec("u3", "buy-nokey", 105, 2))       // no matching click key
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select l_key, r_value from ssj")
      .as[(String, String)].collect().toSeq
    assert(rows === Seq(("u1", "buy-in-window")))
  }

  test("sessionize closes a session on gap timeout and emits one summary") {
    // NO processAllAvailable here: with ProcessingTimeTimeout the engine
    // keeps planning batches to fire due timeouts, so processAllAvailable
    // never quiesces — poll the sink with a deadline instead
    val in = MemoryStream[KafkaShaped]
    val q = StreamJobs.sessionize(in.toDS(), gapMs = 500)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    in.addData(rec("a", "1", 100, 0), rec("a", "2", 103, 1))
    def rowsNow() = spark.sql("select key, n_events, first_ts, last_ts from sess")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
    val deadline = System.currentTimeMillis + 60000
    while (rowsNow().isEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(200)
    graft.streaming.StreamQuiet.quietStop(q)
    val a = rowsNow().filter(_._1 == "a")
    assert(a.length === 1, s"expected exactly one closed 'a' session, got ${rowsNow().toSeq}")
    assert(a.head === (("a", 2L, 100000L, 103000L)))
  }

  test("runningCountsPerKey accumulates state across batches (A4 per-key)") {
    val in = MemoryStream[KafkaShaped]
    val q = StreamJobs.runningCountsPerKey(in.toDS())
      .toDF("key", "running_n")
      .writeStream.outputMode("update")
      .format("memory").queryName("rc").start()
    in.addData(rec("a", "1", 100, 0), rec("a", "2", 101, 1), rec("b", "3", 102, 2))
    q.processAllAvailable()
    in.addData(rec("a", "4", 200, 3))
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    // last update per key wins: a → 3 (2 then +1), b → 1
    val last = spark.sql("select * from rc").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(last === Map("a" -> 3L, "b" -> 1L))
  }

  test("summaryPipeline restart from checkpoint: no duplicate or missing " +
      "batches, monotone batchIds (exactly-once across restart)") {
    val in = MemoryStream[KafkaShaped]
    val dir = tmp()
    val topicSink = new TopicTableSink(dir + "/topic")
    val kvSink = new KvUpsertSink(dir + "/kv")
    val ckpt = dir + "/ckpt"

    // run batch 0, then stop the query mid-stream
    val q1 = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
      topicSink, kvSink, Trigger.ProcessingTime(0), Some(ckpt))
    in.addData(rec("a", "1", 2000, 0))
    q1.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q1)

    // restart against the SAME checkpoint + sinks; feed one more batch
    val q2 = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
      topicSink, kvSink, Trigger.ProcessingTime(0), Some(ckpt))
    in.addData(rec("b", "2", 3000, 1))
    q2.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q2)

    val lines = topicSink.read(spark).select($"value").as[String].collect().toSeq
    // exactly one line per batch: batch 0 NOT reprocessed after restart
    // (offsets came from the checkpoint), batch 1 not lost
    assert(lines.size === 2, lines.toString)
    assert(lines.count(_.contains("batches): 1")) === 1)
    assert(lines.count(_.contains("batches): 2")) === 1) // batchId continued
    // the per-batch summary cells: one per epoch second, none duplicated
    val kv = kvSink.read(spark)
    assert(kv.filter($"qualifier" === "messages").count() === 2)
  }

  test("sessionWindowCounts survives a checkpoint restart: open session " +
      "state carries over, closed sessions emit exactly once") {
    val in = MemoryStream[KafkaShaped]
    val ckpt = tmp() + "/ckpt"
    // memory sink cannot recover from a checkpoint; collect closed
    // sessions through foreachBatch (which can) instead
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Timestamp, Timestamp, Long)]()
    def start() = StreamJobs.sessionWindowCounts(in.toDF(), "30 seconds", "1 minute")
      .writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.as[(String, Timestamp, Timestamp, Long)].collect().foreach(out.add)
        ()
      }.start()
    // open a session, then kill the query BEFORE the watermark closes it
    val q1 = start()
    in.addData(rec("u1", "a", 100, 0), rec("u1", "b", 110, 1))
    q1.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q1)
    // restart from the same checkpoint: the open-session state must be
    // restored; extend the session, then close it with a watermark push
    val q2 = start()
    in.addData(rec("u1", "c", 120, 2))   // merges into the restored session
    q2.processAllAvailable()
    in.addData(rec("u2", "w", 400, 3))   // watermark to 340 → closes u1
    q2.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q2)
    val rows = out.toArray(Array.empty[(String, Timestamp, Timestamp, Long)]).toList
    // ONE u1 session [100, 150) with all 3 events — not two fragments,
    // not a duplicate emission
    val u1 = rows.filter(_._1 == "u1")
    assert(u1 === List(("u1", new Timestamp(100000L),
      new Timestamp(150000L), 3L)), rows.toString)
  }

  test("streamingDecontaminate flags exactly the docs a batch recompute " +
      "flags, across multiple micro-batches") {
    import StreamJobs.StreamDoc
    val bench = Seq("alpha beta gamma", "beta gamma delta", "zeta eta theta")
      .toDF("sh")
    val in = MemoryStream[StreamDoc]
    val out = StreamJobs.streamingDecontaminate(in.toDS(), bench)
    val qname = "sdecon_" + System.nanoTime()
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(qname).start()
    def doc(id: Long, text: String, sec: Long) =
      StreamDoc(id, text, new Timestamp(sec * 1000))
    val docs = Seq(
      doc(1, "alpha beta gamma delta epsilon", 10), // hits 2 bench shingles
      doc(2, "clean words only here none", 11),
      doc(3, "zeta eta theta iota", 12), // hits 1
      doc(4, "xx", 13), // <3 tokens: no shingles, never flagged
      doc(5, "eta theta zeta", 14)) // shingle "eta theta zeta" not in bench
    in.addData(docs.take(2)); q.processAllAvailable()
    in.addData(docs.drop(2)); q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val got = spark.table(qname).select($"docId", $"sh")
      .as[(Long, String)].collect().toSet
    // batch recompute over the same docs
    val benchSet = Set("alpha beta gamma", "beta gamma delta", "zeta eta theta")
    val expected = docs.flatMap { d =>
      d.text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" "))
        .filter(benchSet).map(sh => (d.docId, sh))
    }.toSet
    assert(got === expected)
    assert(got.map(_._1) === Set(1L, 3L))
  }

  test("streamingNearDup state survives a checkpoint restart: a dup of a " +
      "pre-restart doc is still detected against the restored bucket index") {
    import StreamJobs.StreamDoc
    val in = MemoryStream[StreamDoc]
    val dir = tmp()
    def doc(id: Long, text: String, sec: Long) =
      StreamDoc(id, text, new Timestamp(sec * 1000))
    val bufId = "sndr_" + System.nanoTime()
    // foreachBatch sink: the memory sink does not support checkpoint
    // recovery, and recovery is exactly what this test exercises
    def start() = StreamJobs.streamingNearDup(in.toDS(),
        watermark = "10 seconds", ttlMs = 3600 * 1000L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamJobs.NearDupHit], _: Long) =>
        ds.collect().foreach(h =>
          StreamJobs.BufferForeachWriter.append(bufId, s"${h.docId}->${h.dupOf}"))
      }
      .start()
    val q1 = start()
    in.addData(doc(1, "alpha beta gamma delta epsilon", 10))
    q1.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q1)
    val q2 = start() // state store restored from the checkpoint
    in.addData(doc(2, "alpha beta gamma delta epsilon", 20))
    q2.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q2)
    val got = StreamJobs.BufferForeachWriter.get(bufId).toSet
    StreamJobs.BufferForeachWriter.clear(bufId)
    // d1's bucket ownership crossed the restart: d2 hits it in all 4 bands
    assert(got === Set("2->1"))
  }

  test("KvUpsertSink rewrites only the buckets touched by the batch") {
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")
    def cell(rowkey: String, v: String, sec: Long) =
      (rowkey, "cf1", "q", v, new Timestamp(sec * 1000))
    def seed(n: Int) = (1 to n).map(i => cell(s"k$i", s"v$i", 100)).toDF(cols: _*)
    // every file under the table: relative path -> (length, mtime)
    def files(path: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> (p.toFile.length, p.toFile.lastModified))
        .toMap
    }
    val path = tmp() + "/kv"
    val sink = new KvUpsertSink(path)
    sink.upsert(spark, seed(64))
    val before = files(path)
    Thread.sleep(1100) // let mtime resolution tick over
    sink.upsert(spark, Seq(cell("k1", "v1-new", 200)).toDF(cols: _*))
    val after = files(path)
    // no file present before the upsert changed name, length or mtime
    before.foreach { case (f, st) => assert(after.get(f) === Some(st), f) }
    assert(after.size > before.size)
    // and the upsert semantics held: k1 now has the new value
    val k1 = sink.read(spark).filter($"rowkey" === "k1")
      .select($"cell_value").as[String].collect().toSeq
    assert(k1 === Seq("v1-new"))
    assert(sink.read(spark).count() === 64)

    // O(batch) writes: one fixed upsert writes the same bytes into a table
    // of S rows as into one of 10·S rows
    def written(n: Int): Long = {
      val p = tmp() + "/kv"
      val s = new KvUpsertSink(p)
      s.upsert(spark, seed(n))
      val was = files(p)
      s.upsert(spark, Seq(cell("k1", "v1-new", 200), cell("k2", "v2-new", 200))
        .toDF(cols: _*))
      (files(p) -- was.keySet).values.map(_._1).sum
    }
    val (atS, at10S) = (written(500), written(5000))
    assert(atS > 0)
    assert(atS === at10S)
  }

  test("KvUpsertSink.read heals a swap that died between the renames") {
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")
    val path = tmp() + "/kv"
    val sink = new KvUpsertSink(path)
    def cell(rowkey: String, v: String, sec: Long) =
      (rowkey, "cf1", "q", v, new Timestamp(sec * 1000))
    def state() = sink.read(spark).select($"rowkey", $"cell_value")
      .as[(String, String)].collect().toSet
    sink.upsert(spark, (1 to 64).map(i => cell(s"k$i", s"v$i", 100)).toDF(cols: _*))
    val expected = state()
    assert(expected.size === 64)
    // the crash: an upsert wrote its staging directory and died before the
    // commit rename. Its newer cells would win every rowkey if read.
    (1 to 64).map(i => cell(s"k$i", "crashed", 200)).toDF(cols: _*)
      .withColumn("op", lit("upsert")).write.parquet(s"$path/_staging")
    assert(state() === expected)
    // the next upsert overwrites the staging directory and commits
    sink.upsert(spark, Seq(cell("k1", "v1-new", 300)).toDF(cols: _*))
    assert(state() === expected - ("k1" -> "v1") + ("k1" -> "v1-new"))
    assert(!new java.io.File(s"$path/_staging").exists())
  }

  test("KvUpsertSink.read during upserts never fails and sees whole batches") {
    import scala.jdk.CollectionConverters._
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")
    val sink = new KvUpsertSink(tmp() + "/kv")
    val perBatch = 200
    def batch(i: Int) = (0 until perBatch).map(j =>
      (s"b$i-k$j", "cf1", "q", s"v$j", new Timestamp(1000L * i))).toDF(cols: _*)
    sink.upsert(spark, batch(0))
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!done.get) {
        try counts.add(sink.read(spark).count())
        catch { case e: Throwable => failures.add(e) }
      })
    reader.start()
    try (1 until 20).foreach(i => sink.upsert(spark, batch(i)))
    finally { done.set(true); reader.join() }
    assert(failures.isEmpty, s"${failures.size} of ${failures.size + counts.size} " +
      s"reads failed: ${failures.asScala.headOption}")
    val seen = counts.asScala.toSeq
    assert(seen.nonEmpty)
    // each read saw whole batches, and never fewer than the read before it
    assert(seen.forall(_ % perBatch == 0), seen)
    assert(seen === seen.sorted, seen)
    assert(sink.read(spark).count() === 20 * perBatch)
  }

  test("KvUpsertSink incremental MERGE: two micro-batches of mixed " +
      "insert/update/delete ≡ the one-shot batch MERGE; tombstones persist") {
    def mcell(k: String, v: String, sec: Long, op: String) =
      (k, "cf1", "q", v, new Timestamp(sec * 1000), op)
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts", "op")
    val b1 = Seq(
      mcell("k1", "v1", 100, "upsert"),           // insert
      mcell("k2", "v2", 100, "upsert"),
      mcell("k3", "v3", 100, "upsert"),
      mcell("k2", null, 300, "delete"))           // delete k2 at ts 300
    val b2 = Seq(
      mcell("k1", "v1b", 200, "upsert"),          // update
      mcell("k2", "zombie", 200, "upsert"),       // OLDER than k2's delete → stays dead
      mcell("k3", null, 250, "delete"),           // delete k3
      mcell("k4", "v4", 260, "upsert"))           // insert

    // incremental: stream the two micro-batches through foreachBatch
    val in = MemoryStream[(String, String, String, String, Timestamp, String)]
    val incPath = tmp() + "/kv_inc"
    val incSink = new KvUpsertSink(incPath)
    val q = in.toDF().toDF(cols: _*).writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        incSink.upsert(df.sparkSession, df); () }
      .start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)

    // batch: all ops in one MERGE
    val batchSink = new KvUpsertSink(tmp() + "/kv_batch")
    batchSink.upsert(spark, (b1 ++ b2).toDF(cols: _*))

    def state(s: KvUpsertSink) = s.read(spark)
      .select($"rowkey", $"cell_value").as[(String, String)].collect().toSet
    val expected = Set("k1" -> "v1b", "k4" -> "v4") // k2, k3 deleted
    assert(state(incSink) === expected)
    assert(state(batchSink) === expected)
    // the deletes survive as tombstones (what makes the fold incremental),
    // invisible to read()
    val tombs = spark.read.parquet(incPath).filter($"op" === "delete")
      .select($"rowkey").as[String].collect().toSet
    assert(tombs === Set("k2", "k3"))
  }

  test("KvUpsertSink.compact drops exactly the pre-watermark tombstones; " +
      "read() unchanged; kept tombstones still beat late upserts") {
    def mcell(k: String, v: String, sec: Long, op: String) =
      (k, "cf1", "q", v, new Timestamp(sec * 1000), op)
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts", "op")
    val path = tmp() + "/kv_compact"
    val sink = new KvUpsertSink(path)
    sink.upsert(spark, Seq(
      mcell("a", "va", 100, "upsert"),
      mcell("b", "vb", 100, "upsert"),
      mcell("c", "vc", 100, "upsert"),
      mcell("a", null, 300, "delete"),   // old tombstone: compactable
      mcell("b", null, 900, "delete")    // young tombstone: must survive
    ).toDF(cols: _*))
    def live() = sink.read(spark)
      .select($"rowkey", $"cell_value").as[(String, String)].collect().toSet
    val before = live()
    assert(before === Set("c" -> "vc"))

    // watermark 500 s: arrivals with event time < 500 are contractually over
    sink.compact(spark, new Timestamp(500 * 1000))
    assert(live() === before) // read() is tombstone-free either way
    val tombs = spark.read.parquet(path).filter($"op" === "delete")
      .select($"rowkey").as[String].collect().toSet
    assert(tombs === Set("b"), "only the pre-watermark tombstone may drop")

    // a late-but-in-contract upsert (ts 800 < b's delete at 900) must
    // still lose to the KEPT tombstone
    sink.upsert(spark, Seq(mcell("b", "zombie", 800, "upsert")).toDF(cols: _*))
    assert(live() === Set("c" -> "vc"))

    // idempotent: a second pass with the same watermark is a no-op
    sink.compact(spark, new Timestamp(500 * 1000))
    assert(live() === Set("c" -> "vc"))
  }

  test("KvUpsertSink.compact that dies before deleting the deltas it " +
      "folded leaves read() unchanged") {
    def mcell(k: String, v: String, sec: Long, op: String) =
      (k, "cf1", "q", v, new Timestamp(sec * 1000), op)
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts", "op")
    val path = tmp() + "/kv"
    val sink = new KvUpsertSink(path)
    def live() = sink.read(spark)
      .select($"rowkey", $"cell_value").as[(String, String)].collect().toSet
    sink.upsert(spark, Seq(mcell("a", "va", 100, "upsert")).toDF(cols: _*))
    sink.upsert(spark, Seq(mcell("a", null, 300, "delete"),
      mcell("c", "vc", 100, "upsert")).toDF(cols: _*))
    val first = new java.io.File(path).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_")).minBy(_.getName)
    val copy = new java.io.File(tmp(), "folded")
    org.apache.commons.io.FileUtils.copyDirectory(first, copy)
    // drops a's tombstone, and the older upsert beneath it with it
    sink.compact(spark, new Timestamp(500 * 1000))
    assert(live() === Set("c" -> "vc"))
    assert(!first.exists())
    // the crash: the delta holding a's upsert was never deleted
    org.apache.commons.io.FileUtils.copyDirectory(copy, first)
    assert(live() === Set("c" -> "vc"))
    // the next compaction deletes it
    sink.compact(spark, new Timestamp(500 * 1000))
    assert(!first.exists())
    assert(live() === Set("c" -> "vc"))
  }

  test("summaryPipeline topic line is exactly-once when a batch re-runs " +
      "after a crash before its commit") {
    val in = MemoryStream[KafkaShaped]
    val dir = tmp()
    val topicSink = new TopicTableSink(dir + "/topic")
    val kvSink = new KvUpsertSink(dir + "/kv")
    val ckpt = dir + "/ckpt"
    def start() = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
      topicSink, kvSink, Trigger.ProcessingTime(0), Some(ckpt))
    def lines() = topicSink.read(spark).select($"value").as[String]
      .collect().sorted.toSeq
    val q1 = start()
    in.addData(rec("a", "1", 2000, 0))
    q1.processAllAvailable()
    in.addData(rec("b", "2", 3000, 1), rec("b", "3", 3001, 2))
    q1.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q1)
    val before = lines()
    assert(before.size === 2, before.toString)

    // the crash: batch 1 reached both sinks, its commit never landed
    Seq("1", ".1.crc").map(f => new java.io.File(s"$ckpt/commits/$f"))
      .filter(_.exists()).foreach(f => assert(f.delete()))
    val q2 = start() // re-runs batch 1 from the offset log
    q2.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q2)

    assert(new java.io.File(s"$ckpt/commits/1").exists(), "batch 1 did not re-run")
    // one line per batch, and the re-run line is the one first written
    assert(lines() === before)
    assert(kvSink.read(spark).filter($"qualifier" === "messages").count() === 2)
  }

  test("summaryPipeline's per-key pass writes the KV table the distinct-" +
      "message formulation writes (dropDuplicates + last-write-wins)") {
    val recs = Seq(
      rec("a", "1", 1000, 0), rec("a", "1", 1000, 1),   // duplicate pair
      rec("a", "2", 1001, 2), rec("a", "10", 1001, 3),  // several values, one key
      rec(null, "x", 1002, 4), rec("null", "y", 1002, 5), // both on <sec>-null
      rec("b", null, 1002, 6), rec("b", "3", 1002, 7),  // null value beside a value
      rec("c", null, 1002, 8))                          // only a null value
    val in = MemoryStream[KafkaShaped]
    val kvSink = new KvUpsertSink(tmp() + "/kv")
    in.addData(recs: _*)
    val q = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
      new TopicTableSink(tmp() + "/topic"), kvSink, Trigger.AvailableNow())
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)

    // the earlier formulation: every distinct (key, value) as a bulk cell at
    // the batch time, reduced by the sink's rule (ts DESC, op ASC,
    // cell_value DESC; all ts and op are equal here)
    val df = recs.toDF()
    val batchTs = df.agg(max($"timestamp")).head().getTimestamp(0)
    val sec = Math.floorDiv(batchTs.getTime, 1000L).toString
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"rowkey", $"cf", $"qualifier").orderBy($"cell_value".desc)
    val expected = df.dropDuplicates("key", "value")
      .select(
        concat(lit(sec), lit("-"), coalesce($"key", lit("null"))).as("rowkey"),
        lit("cf1").as("cf"), lit("content").as("qualifier"),
        when($"key".isNull, lit("kafka empty message"))
          .otherwise(concat($"key", lit("--|--"), $"value")).as("cell_value"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
      .as[(String, String, String, String)].collect().toSet
    assert(expected === Set(
      (s"$sec-a", "cf1", "content", "a--|--2"),
      (s"$sec-null", "cf1", "content", "null--|--y"),
      (s"$sec-b", "cf1", "content", "b--|--3"),
      (s"$sec-c", "cf1", "content", null)))
    val kv = kvSink.read(spark)
    assert(kv.filter($"qualifier" === "content")
      .select($"rowkey", $"cf", $"qualifier", $"cell_value")
      .as[(String, String, String, String)].collect().toSet === expected)
    assert(kv.filter($"qualifier" === "messages").select($"cell_value")
      .as[String].head().endsWith("number of message 9"))
  }

  test("KvUpsertSink.upsert throws on a column mismatch and leaves the " +
      "table unchanged; a table without `op` still merges") {
    val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")
    def cell(k: String, v: String, sec: Long) =
      (k, "cf1", "q", v, new Timestamp(sec * 1000))
    val path = tmp() + "/kv"
    val sink = new KvUpsertSink(path)
    sink.upsert(spark, Seq(cell("k1", "v1", 100), cell("k2", "v2", 100))
      .toDF(cols: _*))
    def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
    def live() = sink.read(spark).as[(String, String, String, String, Timestamp)]
      .collect().toSet
    val (filesBefore, liveBefore) = (files(), live())
    val e = intercept[IllegalArgumentException](sink.upsert(spark,
      Seq(cell("k1", "v9", 200)).toDF(cols: _*).withColumn("extra", lit(1))))
    assert(e.getMessage.contains("extra"), e.getMessage)
    assert(files() === filesBefore)
    assert(live() === liveBefore)

    // a table written before the MERGE extension has no `op` column: an
    // older upsert must still lose to its cell, not replace the bucket
    val old = tmp() + "/kv_old"
    Seq(cell("k1", "v1", 100)).toDF(cols: _*)
      .withColumn("bucket", pmod(xxhash64($"rowkey"), lit(4)).cast("int"))
      .write.partitionBy("bucket").parquet(old)
    val oldSink = new KvUpsertSink(old)
    oldSink.upsert(spark, Seq(cell("k1", "v0", 50)).toDF(cols: _*))
    assert(oldSink.read(spark).select($"cell_value").as[String].collect().toSeq
      === Seq("v1"))
  }

  /** A child process start: its command line and the thread that started it. */
  private case class ProcessStart(command: String, thread: String) {
    /** Spark's cleanup of a collected session: a `Cleaner-*` thread runs
      * `rm -rf` of the session's artifact directory under the JVM's temp
      * dir. When the collection lands is up to the GC, so in a full run it
      * can fall in any window, whatever code left the session behind. The
      * command does not say which code made the session, so a session the
      * window's own body cloned and dropped is set aside too. */
    def sessionCleanup: Boolean = thread.startsWith("Cleaner-") && {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Seq(tmp.getAbsolutePath, tmp.getCanonicalPath)
        .exists(r => command.startsWith(s"rm -rf $r/artifacts-"))
    }
    override def toString = s"[$thread] $command"
  }

  /** The child processes this JVM starts while `body` runs, from a JFR
    * event stream that is first shown to see one. A collection runs before
    * the window opens, so the cleanup of sessions that earlier code left
    * unreachable mostly lands before it, not in it. */
  private def processStartsDuring(body: => Unit): Seq[ProcessStart] = {
    import scala.jdk.CollectionConverters._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[ProcessStart]()
    val flushes = new java.util.concurrent.atomic.AtomicInteger()
    val rs = new jdk.jfr.consumer.RecordingStream()
    // every event recorded before the call has been delivered after two more
    // flushes (one a second)
    def drain(): Unit = {
      val target = flushes.get + 2
      val deadline = System.nanoTime() + 20000000000L
      while (flushes.get < target && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushes.get >= target, "the JFR stream stopped flushing")
    }
    try {
      // Spark's process-tree metrics run `getconf PAGESIZE` once per JVM, at
      // the first executor heartbeat: run it now, not in the window
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => started.add(ProcessStart(e.getString("command"),
        Option(e.getThread).map(_.getJavaName).getOrElse(""))))
      rs.onFlush(() => flushes.incrementAndGet())
      rs.startAsync()
      System.gc()
      // control: the stream sees a process start
      new ProcessBuilder("true").start().waitFor()
      drain()
      assert(started.asScala.exists(_.command.contains("true")), started.toString)
      started.clear()
      body
      drain()
      started.asScala.toSeq
    } finally rs.close()
  }

  test("sink writes start no child process; NioLocalFileSystem sets the " +
      "requested POSIX bits") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = tmp()
    val started = processStartsDuring {
      val topic = new TopicTableSink(dir + "/topic")
      val line = Seq(("out", null: String, "line", new Timestamp(1000L)))
        .toDF("topic", "key", "value", "ts")
      topic.appendBatch(line, 0)
      topic.appendBatch(line, 0) // a re-run batch overwrites its directory
      val kv = new KvUpsertSink(dir + "/kv")
      val cols = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")
      kv.upsert(spark, (1 to 8).map(i => (s"k$i", "cf1", "q", s"v$i",
        new Timestamp(1000L))).toDF(cols: _*))
      kv.upsert(spark, Seq(("k1", "cf1", "q", "v1b", new Timestamp(2000L)))
        .toDF(cols: _*)) // reads a footer of the table and commits a delta
      kv.upsert(spark, Seq(("k8", "cf1", "q", null: String, new Timestamp(2000L),
        "delete")).toDF(cols :+ "op": _*))
      assert(kv.read(spark).count() === 7)
      kv.compact(spark, new Timestamp(3000L)) // drops k8's tombstone
      assert(kv.read(spark).count() === 7)
      assert(topic.read(spark).count() === 1)
    }
    val (cleanups, others) = started.partition(_.sessionCleanup)
    assert(others.isEmpty, (others.map(_.toString) ++
      cleanups.map(c => s"set aside, cleanup of a collected session: $c")).mkString("\n"))

    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    def mode(p: Path) = java.nio.file.attribute.PosixFilePermissions.toString(
      java.nio.file.Files.getPosixFilePermissions(
        java.nio.file.Paths.get(p.toUri.getPath)))
    val d = new Path(dir, "d750")
    assert(fs.mkdirs(d, new FsPermission("750")))
    assert(mode(d) === "rwxr-x---")
    val f = new Path(d, "f640")
    fs.create(f, new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null)
      .close()
    assert(mode(f) === "rw-r-----")
    fs.setPermission(f, new FsPermission("604"))
    assert(mode(f) === "rw----r--")
  }

  test("summaryPipeline checkpoints start no child process and its batches " +
      "cache in the stream's own session, under the session's checkpoint " +
      "manager or a caller's FileContext pin, and start puts the caller's " +
      "conf back") {
    val (managerKey, nio) = NioCheckpointFileManager.pin
    val fileContext =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    val dir = tmp()
    def run(name: String, sec: Long): org.apache.spark.sql.streaming.StreamingQuery = {
      val in = MemoryStream[KafkaShaped]
      val q = StreamJobs.summaryPipeline(in.toDF(), "t", "out",
        new TopicTableSink(s"$dir/$name/topic"), new KvUpsertSink(s"$dir/$name/kv"),
        Trigger.ProcessingTime(0), Some(s"$dir/$name/ckpt"))
      try (0 until 3).foreach { i =>
        in.addData(rec("a", s"$i", sec + i, i), rec("b", s"$i", sec + i, 10 + i))
        q.processAllAvailable()
      } catch { case e: Throwable => graft.streaming.StreamQuiet.quietStop(q); throw e }
      q
    }
    val confBefore = spark.conf.getOption(managerKey)
    var streamManager: Option[String] = None
    var cachesInOwnSession = false
    val started = processStartsDuring {
      graft.streaming.StreamQuiet.quietStop(run("session", 4000))
      GraftSession.withConf(spark, managerKey -> fileContext) {
        val q = run("pinned", 5000)
        try {
          assert(spark.conf.get(managerKey) === fileContext) // the caller's pin
          val exec = q.asInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
          // protected[sql] in Scala, public in the bytecode
          val forStream = exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
            .asInstanceOf[org.apache.spark.sql.SparkSession]
          streamManager = forStream.conf.getOption(managerKey)
          // the check Spark's CacheManager makes before it plans a cache()
          // in a new clone of the session (private[sql] in Scala, public in
          // the bytecode): a batch's cache() must not clone the session
          import org.apache.spark.sql.internal.SQLConf
          val companion = org.apache.spark.sql.classic.SparkSession
          val cacheSession = companion.getClass.getMethod("getOrCloneSessionWithConfigsOff",
              classOf[org.apache.spark.sql.classic.SparkSession],
              classOf[scala.collection.immutable.Seq[_]])
            .invoke(companion, forStream, Seq(SQLConf.AUTO_BUCKETED_SCAN_ENABLED,
              SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
          cachesInOwnSession = cacheSession eq forStream
        } finally graft.streaming.StreamQuiet.quietStop(q)
      }
    }
    Seq("session", "pinned").foreach { name =>
      Seq("offsets", "commits").foreach { log =>
        assert(new java.io.File(s"$dir/$name/ckpt/$log/2").exists(), s"$name $log")
      }
    }
    val inCkpt = started.filter(_.command.contains(dir))
    assert(inCkpt.isEmpty, s"${inCkpt.size} process starts:\n" + inCkpt.mkString("\n"))
    assert(streamManager === Some(nio))
    assert(cachesInOwnSession)
    assert(spark.conf.getOption(managerKey) === confBefore)
  }

  test("summaryPipeline's overlapped topic write: its failure fails the batch " +
      "after the KV upsert commits, a restart yields one line per batch and " +
      "the KV table of an unfailed run, and its job counts under the batch") {
    import scala.jdk.CollectionConverters._
    val batches = Seq(
      Seq(rec("a", "1", 2000, 0), rec("b", "2", 2001, 1)),
      Seq(rec("a", "3", 3000, 2), rec(null, "4", 3001, 3)))
    def kvRows(sink: KvUpsertSink) =
      sink.read(spark).as[(String, String, String, String, Timestamp)].collect().toSet
    def lines(sink: TopicTableSink) =
      sink.read(spark).select($"value").as[String].collect().sorted.toSeq

    // the unfailed run, with a listener on every job it starts
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val marker = "graft-stream-jobs-marker"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty("spark.job.description") == marker)) seen.countDown()
        else jobs.add(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))))
      }
    }
    val clean = tmp()
    val cleanTopic = new TopicTableSink(clean + "/topic")
    val cleanKv = new KvUpsertSink(clean + "/kv")
    spark.sparkContext.addSparkListener(listener)
    try {
      val in = MemoryStream[KafkaShaped]
      val q = StreamJobs.summaryPipeline(in.toDF(), "t", "out", cleanTopic, cleanKv,
        Trigger.ProcessingTime(0), Some(clean + "/ckpt"))
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally graft.streaming.StreamQuiet.quietStop(q)
      // the listener bus delivers in order: once the marker job is seen,
      // every job of the run has been
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    // three jobs a batch (the aggregate and count, the topic line, the KV
    // upsert), every one of them under its batch id
    assert(jobs.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size } ===
      Map(Some("0") -> 3, Some("1") -> 3))

    val dir = tmp()
    val topicPath = new java.io.File(dir + "/topic")
    val topicSink = new TopicTableSink(topicPath.getPath)
    val kvSink = new KvUpsertSink(dir + "/kv")
    val in = MemoryStream[KafkaShaped]
    def start() = StreamJobs.summaryPipeline(in.toDF(), "t", "out", topicSink, kvSink,
      Trigger.ProcessingTime(0), Some(dir + "/ckpt"))
    // a regular file where the topic table's directory belongs: the topic
    // write of batch 0 throws
    assert(topicPath.createNewFile())
    val q1 = start()
    in.addData(batches.head: _*)
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    finally graft.streaming.StreamQuiet.quietStop(q1)
    assert(!new java.io.File(dir + "/ckpt/commits/0").exists(), "batch 0 committed")
    // the upsert ran beside the failed write and finished before the batch
    // failed
    assert(kvSink.read(spark).filter($"qualifier" === "messages").count() === 1)

    assert(topicPath.delete())
    val q2 = start() // re-runs batch 0 from the offset log
    try {
      q2.processAllAvailable()
      in.addData(batches(1): _*)
      q2.processAllAvailable()
    } finally graft.streaming.StreamQuiet.quietStop(q2)
    assert(lines(topicSink) === lines(cleanTopic))
    assert(lines(topicSink).size === 2)
    assert(kvRows(kvSink) === kvRows(cleanKv))
  }

  test("dropDuplicatesWithinWatermark evicts state past the watermark") {
    val in = MemoryStream[KafkaShaped]
    val q = StreamJobs.streamingDedupWithinWatermark(in.toDF(), "30 seconds")
      .writeStream.outputMode("append").format("memory").queryName("ddw").start()
    in.addData(rec("a", "1", 100, 0))
    q.processAllAvailable()
    in.addData(rec("a", "1", 110, 1)) // dup within the watermark → dropped
    q.processAllAvailable()
    in.addData(rec("b", "2", 300, 2)) // advances watermark to 270, evicts (a,1)
    q.processAllAvailable()
    in.addData(rec("a", "1", 301, 3)) // re-arrival after eviction → NEW record
    q.processAllAvailable()
    graft.streaming.StreamQuiet.quietStop(q)
    val vals = spark.sql("select key, value from ddw")
      .as[(String, String)].collect().toSeq
    assert(vals.count(_ == ("a", "1")) === 2, vals.toString) // before + after eviction
    assert(vals.count(_ == ("b", "2")) === 1)
  }

  test("stream-stream LEFT OUTER interval join null-pads unmatched left rows") {
    val clicks = MemoryStream[KafkaShaped]
    val buys = MemoryStream[KafkaShaped]
    val joined = StreamJobs.streamStreamLeftOuterJoin(
      clicks.toDF(), buys.toDF(), "10 seconds", "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssoj").start()
    clicks.addData(rec("u1", "click1", 100, 0), rec("u2", "click2", 100, 1))
    buys.addData(rec("u1", "buy-in-window", 105, 0))
    q.processAllAvailable()
    // advance BOTH watermarks far past 100+10+10 so u2's no-match is final
    clicks.addData(rec("u9", "advance", 1000, 2))
    buys.addData(rec("u9", "advance", 1000, 1))
    q.processAllAvailable()
    q.processAllAvailable() // no-data batch emits the final outer rows
    graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select l_key, r_value from ssoj")
      .as[(String, Option[String])].collect().toSet
    assert(rows.contains(("u1", Some("buy-in-window"))), rows.toString)
    assert(rows.contains(("u2", None)), rows.toString) // null-padded outer row
  }

  test("temporalEnrich assigns each event the dim version in force at event time") {
    val upd = MemoryStream[KafkaShaped]
    val ev = MemoryStream[KafkaShaped]
    val q = StreamJobs.temporalEnrich(upd.toDF(), ev.toDF())
      .writeStream.outputMode("append").format("memory").queryName("te").start()
    upd.addData(rec("u1", "v1", 100, 0), rec("u1", "v2", 200, 1))
    ev.addData(rec("u1", "e-early", 50, 0), rec("u1", "e-mid", 150, 1),
      rec("u1", "e-tie", 200, 2), rec("u1", "e-late", 250, 3))
    q.processAllAvailable()
    // batch 2: out-of-order event inside the retained horizon still picks
    // the version in force at ITS time, not the latest; fresh key u2 too
    ev.addData(rec("u1", "e-ooo", 120, 4), rec("u2", "e-nodim", 300, 5))
    upd.addData(rec("u2", "w1", 100, 2))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select value, dim_value from te")
      .as[(String, Option[String])].collect().toMap
    assert(rows("e-early") === None)          // left-outer: no version yet
    assert(rows("e-mid") === Some("v1"))
    assert(rows("e-tie") === Some("v2"))      // same-instant update applies
    assert(rows("e-late") === Some("v2"))
    assert(rows("e-ooo") === Some("v1"))      // late event, correct old version
    assert(rows("e-nodim") === Some("w1"))    // update sorts before event in-batch
  }

  test("anomalyDetect flags z>3 samples against prior Welford state, per key") {
    import StreamJobs.MetricPoint
    val in = MemoryStream[MetricPoint]
    val q = StreamJobs.anomalyDetect(in.toDS(), k = 3.0, minPrior = 5L)
      .writeStream.outputMode("append").format("memory").queryName("anom").start()
    // batch 1: 6 calm samples for key a (the 6th is judged against 5 priors)
    val calm = (1 to 6).map(i => MetricPoint("a", i * 100L, 10.0 + (i % 2)))
    in.addData(calm: _*)
    q.processAllAvailable()
    // batch 2: one spike for a, a calm tail, and a fresh key b (never
    // enough priors to judge)
    in.addData(MetricPoint("a", 700, 99.0), MetricPoint("a", 800, 10.5),
      MetricPoint("b", 100, 5.0), MetricPoint("b", 200, 500.0))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val flags = spark.sql("select key, tsMs, value, mean, stddev, n_prior from anom")
      .as[(String, Long, Double, Double, Double, Long)].collect().sortBy(_._2)

    // independent sequential replay with the same batch/ts fold order
    var (n, mean, m2) = (0L, 0.0, 0.0)
    val expected = Seq.newBuilder[(String, Long, Double, Double, Double, Long)]
    (calm ++ Seq(MetricPoint("a", 700, 99.0), MetricPoint("a", 800, 10.5)))
      .foreach { r =>
        if (n >= 5 && math.abs(r.value - mean) > 3.0 * math.sqrt(m2 / n))
          expected += (("a", r.tsMs, r.value, mean, math.sqrt(m2 / n), n))
        n += 1
        val d = r.value - mean; mean += d / n; m2 += d * (r.value - mean)
      }
    assert(flags.toSeq === expected.result())
    assert(flags.map(_._1).toSet === Set("a")) // b never reaches minPrior
    assert(flags.exists(f => f._2 === 700L && f._3 === 99.0))
    assert(!flags.exists(_._2 === 800L)) // post-spike calm sample: the
    // monitor adapted (spike folded in) but 10.5 is within 3σ of the new state
  }

  test("debounce keeps only events past the quiet window of the previously " +
      "KEPT event, across batch boundaries") {
    import StreamJobs.MetricPoint
    val in = MemoryStream[MetricPoint]
    val q = StreamJobs.debounce(in.toDS(), quietMs = 1000L)
      .writeStream.outputMode("append").format("memory").queryName("deb").start()
    // batch 1: chained arrivals — 0 kept, 500/900 inside its window, 1500
    // kept (window re-opens), 2200 inside 1500's window
    in.addData(MetricPoint("a", 0, 1.0), MetricPoint("a", 500, 2.0),
      MetricPoint("a", 900, 3.0), MetricPoint("a", 1500, 4.0),
      MetricPoint("a", 2200, 5.0), MetricPoint("b", 10, 9.0))
    q.processAllAvailable()
    // batch 2: 2400 is inside batch-1's kept-1500 window (cross-batch state);
    // 2600 is past it and kept; fresh key c always keeps its first
    in.addData(MetricPoint("a", 2400, 6.0), MetricPoint("a", 2600, 7.0),
      MetricPoint("c", 5, 8.0))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val got = spark.sql("select key, tsMs from deb")
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 0L), ("a", 1500L), ("a", 2600L),
      ("b", 10L), ("c", 5L)))
    // the chained semantics differ from a lag-window debounce: 2200 is
    // dropped even though it is > 1000ms after the (dropped) 900
    assert(!got.contains(("a", 2200L)))
  }

  test("streamingNearDup: band hits across batches equal the batch LSH " +
      "collision pairs; first arrival owns the bucket") {
    import StreamJobs.{StreamDoc, NearDupHit}
    val in = MemoryStream[StreamDoc]
    val q = StreamJobs.streamingNearDup(in.toDS(),
        watermark = "10 seconds", ttlMs = 3600 * 1000L)
      .writeStream.outputMode("append").format("memory").queryName("snd").start()
    def doc(id: Long, text: String, sec: Long) =
      StreamDoc(id, text, new Timestamp(sec * 1000))
    val d1 = doc(1, "alpha beta gamma delta epsilon", 10)
    val d3 = doc(3, "one two three four five six", 11)
    val d2 = doc(2, "alpha beta gamma delta epsilon", 20) // exact dup of d1
    val d5 = doc(5, "one two three four five six", 21)    // exact dup of d3
    val d9 = doc(9, "unrelated totally different words here", 22)
    in.addData(d1, d3)
    q.processAllAvailable()
    in.addData(d2, d5, d9)
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val got = spark.sql("select docId, dupOf, band from snd")
      .as[(Long, Long, Int)].collect().toSet
    // expected: replay the same band keys; later doc hits earlier owner
    val all = Seq(d1, d3, d2, d5, d9)
    val keys = all.map(d =>
      d.docId -> StreamJobs.minhashBandKeys(d.text).toSet).toMap
    val expected = (for {
      a <- all; b <- all
      if a.ts.getTime < b.ts.getTime || (a.ts.getTime == b.ts.getTime && a.docId < b.docId)
      (band, key) <- keys(b.docId)
      if keys(a.docId).contains((band, key))
      // only the FIRST owner of a bucket is the canonical: no transitive
      // re-attribution in this fixture (d1/d3 own all contested buckets)
    } yield (b.docId, a.docId, band)).toSet
    assert(got === expected)
    // exact dups collide in all 4 bands; unrelated docs in none
    assert(got.filter(h => h._1 == 2L && h._2 == 1L).map(_._3) === Set(0, 1, 2, 3))
    assert(got.filter(h => h._1 == 5L && h._2 == 3L).map(_._3) === Set(0, 1, 2, 3))
    assert(!got.exists(_._1 == 9L))
  }

  test("streamingNearDup: bucket state evicts after the watermark passes " +
      "the owner's ttl; a re-arrival then claims fresh") {
    import StreamJobs.StreamDoc
    val in = MemoryStream[StreamDoc]
    val q = StreamJobs.streamingNearDup(in.toDS(),
        watermark = "0 seconds", ttlMs = 5 * 1000L)
      .writeStream.outputMode("append").format("memory").queryName("snd2").start()
    def doc(id: Long, text: String, sec: Long) =
      StreamDoc(id, text, new Timestamp(sec * 1000))
    in.addData(doc(1, "alpha beta gamma delta epsilon", 10))
    q.processAllAvailable() // d1 owns; timeout armed for t=15s
    in.addData(doc(8, "watermark advancing filler words", 100))
    q.processAllAvailable() // watermark -> 100s
    in.addData(doc(7, "second filler to run the timeout batch", 101))
    q.processAllAvailable() // d1's buckets time out and evict
    in.addData(doc(6, "alpha beta gamma delta epsilon", 102))
    q.processAllAvailable() // same text as d1 — but buckets are forgotten
    in.addData(doc(5, "alpha beta gamma delta epsilon", 103))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q) // d5 collides with the NEW owner d6
    val got = spark.sql("select docId, dupOf from snd2")
      .as[(Long, Long)].collect().toSet
    assert(!got.exists(_._1 == 6L)) // re-admitted: no hit against evicted d1
    assert(got.filter(_._1 == 5L).map(_._2) === Set(6L)) // new canonical
  }

  test("TopicTableSink.appendBatch is idempotent under batch replay") {
    val sink = new TopicTableSink(tmp() + "/t")
    val df = Seq(("a", 1L)).toDF("k", "n")
    sink.appendBatch(df, 7)
    sink.appendBatch(df, 7) // checkpoint replay of the same batch
    assert(sink.read(spark).count() === 1)
    sink.appendBatch(Seq(("b", 2L)).toDF("k", "n"), 8)
    assert(sink.read(spark).count() === 2)
  }

  test("temporalEnrich keeps millisecond order (no whole-second truncation)") {
    val upd = MemoryStream[KafkaShaped]
    val ev = MemoryStream[KafkaShaped]
    def ms(key: String, value: String, millis: Long, off: Long) =
      KafkaShaped(key, value, "page_visits", 0, off, new Timestamp(millis))
    val q = StreamJobs.temporalEnrich(upd.toDF(), ev.toDF())
      .writeStream.outputMode("append").format("memory").queryName("tems").start()
    // update at 1.9s is WITHIN the same whole second as the event at 1.1s —
    // second-truncated timestamps would tie them and wrongly apply v1
    upd.addData(ms("k", "v0", 500, 0), ms("k", "v1", 1900, 1))
    ev.addData(ms("k", "e", 1100, 0))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select value, dim_value from tems")
      .as[(String, Option[String])].collect().toMap
    assert(rows("e") === Some("v0"))
  }

  test("temporalEnrich bounds state to maxVersions, evicting oldest versions") {
    val upd = MemoryStream[KafkaShaped]
    val ev = MemoryStream[KafkaShaped]
    val q = StreamJobs.temporalEnrich(upd.toDF(), ev.toDF(), maxVersions = 2)
      .writeStream.outputMode("append").format("memory").queryName("tev").start()
    upd.addData(rec("k", "v1", 100, 0), rec("k", "v2", 200, 1), rec("k", "v3", 300, 2))
    q.processAllAvailable()
    ev.addData(rec("k", "behind-horizon", 150, 0), rec("k", "in-horizon", 250, 1))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    val rows = spark.sql("select value, dim_value from tev")
      .as[(String, Option[String])].collect().toMap
    assert(rows("behind-horizon") === None)   // v1 evicted: bounded state
    assert(rows("in-horizon") === Some("v2"))
  }

  test("quietStop's teardown filter denies only the benign interruption class") {
    import graft.streaming.StreamQuiet.benignTeardown
    // the three real teardown signatures: error-class text, interrupt in the
    // cause chain, task-kill
    assert(benignTeardown(
      "[CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT] Error writing state store", null))
    assert(benignTeardown("Exception in task 3.0 in stage 7.0",
      new RuntimeException("boom", new InterruptedException())))
    assert(benignTeardown("Lost task: TaskKilled (Stage cancelled)", null))
    // a genuine concurrent error must pass through (Level.OFF would have
    // dropped these — the regression the filter rewrite exists to prevent)
    assert(!benignTeardown("Exception in task 3.0 in stage 7.0",
      new RuntimeException("ArithmeticException: / by zero")))
    assert(!benignTeardown("Query [id=x] terminated with error",
      new java.io.IOException("No space left on device")))
    assert(!benignTeardown(null, null))
  }

  test("rateLimitPerKey (transformWithState): cap binds across batches, " +
      "resets on a new window, keys are independent") {
    import graft.streaming.ReplayOps.Ev
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[Ev]
      def ev(key: Long, eid: Long, us: Long) =
        Ev(key, "v", new java.sql.Timestamp(us / 1000), eid, 0.0, us)
      val q = StreamJobs.rateLimitPerKey(in.toDF(), 2, 1000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("rlim_unit").start()
      // window = us div 1000. Batch 1: key 1 fills window 0's quota of 2.
      in.addData(ev(1, 1, 100), ev(1, 2, 200), ev(2, 10, 150))
      q.processAllAvailable()
      // Batch 2: key 1 window 0 is ALREADY full (state carried) -> reject
      // eid 3; window 1 resets -> admit eid 4; key 2 still has quota.
      in.addData(ev(1, 3, 400), ev(1, 4, 1500), ev(2, 11, 300))
      q.processAllAvailable()
      graft.streaming.StreamQuiet.quietStop(q)
      val got = spark.sql("select key, eid from rlim_unit")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 1L), (1L, 2L), (2L, 10L), (1L, 4L), (2L, 11L)))
    }
  }

  test("ForeachWriter lifecycle processes every record (O2 analog)") {
    val in = MemoryStream[KafkaShaped]
    val id = "t" + System.nanoTime()
    val q = in.toDF().select($"key", $"value")
      .writeStream.outputMode("append")
      .foreach(new StreamJobs.BufferForeachWriter(id))
      .start()
    in.addData(rec("a", "1", 100, 0), rec("b", "2", 101, 1))
    q.processAllAvailable(); graft.streaming.StreamQuiet.quietStop(q)
    assert(StreamJobs.BufferForeachWriter.get(id).sorted === Seq("a|1", "b|2"))
    StreamJobs.BufferForeachWriter.clear(id)
  }
}
