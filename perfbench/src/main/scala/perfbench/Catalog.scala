package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** catalog_cold: timed passes over six batch operators, each called
  * through `SparkEntry.queries(name)` and materialised with the `noop` sink.
  * Each pass reads its own copy of the tables (run.py writes them, row
  * order permuted from the seed), so the operators' per-directory model
  * memos start cold on every pass, as they do in a fresh process. */
object Catalog {
  /** Query name -> the table it scans (for records/s). */
  val queries: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "lineitem",
    "topk_orders" -> "orders",
    "window_topk_per_customer" -> "orders",
    "jaccard_prefix_join" -> "documents",
    "kcore_peel" -> "lineitem",
    "ann_ivf" -> "embeddings")

  def digest(df: DataFrame): String = {
    val (rows, cols) = graft.Verify.digest(df)
    (rows.toString +: cols.map { case (c, nulls, md5) => s"$c:$nulls:$md5" }).mkString("|")
  }

  private def fn(name: String) = graft.SparkEntry.queries(name)

  /** Writes the digest of every query on the unpermuted tables in `dir`. */
  def recordDigests(spark: SparkSession, dir: String, out: String): Unit = {
    val lines = queries.map { case (q, _) =>
      spark.catalog.clearCache()
      s"""  "$q": "${digest(fn(q)(spark, dir))}""""
    }
    Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
  }

  private def readExpected(path: String): Map[String, String] = {
    val kv = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    kv.findAllMatchIn(Files.readString(Paths.get(path))).map(m => m.group(1) -> m.group(2)).toMap
  }

  private final case class Timing(query: String, fnMs: Double, planMs: Double, execMs: Double,
      spanId: Long) {
    def totalMs: Double = fnMs + planMs + execMs
  }

  /** Runs the query list once over the tables in `dir`, timing each
    * query's fn, plan and exec. */
  private def pass(ctx: Ctx, p: Int, dir: String): Seq[Timing] = {
    import ctx._
    val sc = spark.sparkContext
    queries.map { case (q, _) =>
      spark.catalog.clearCache()
      res.attempted += 1
      val timing = spans.span(0, "query", q) { qId =>
        def phase[T](ph: String)(body: => T): (T, Double) = {
          sc.setJobGroup(s"q:$p:$q:$ph", q)
          val t0 = Clock.nowMs
          val r = spans.span(qId, ph, q)(_ => body)
          sc.clearJobGroup()
          (r, Clock.nowMs - t0)
        }
        val (df, fnMs) = phase("fn")(fn(q)(spark, dir))
        val (_, planMs) = phase("plan")(df.queryExecution.executedPlan)
        val (_, execMs) = phase("exec")(df.write.format("noop").mode("overwrite").save())
        Timing(q, fnMs, planMs, execMs, qId)
      }
      System.err.println(f"[perfbench] pass $p $q%-26s fn ${timing.fnMs}%8.1f " +
        f"plan ${timing.planMs}%7.1f exec ${timing.execMs}%8.1f ms")
      timing
    }
  }

  /** Checks every query's output on the permuted copy `check`, untimed;
    * this first pass over the queries also warms the JVM (it runs about
    * 1.5 x slower than later ones while the JIT compiles). Then makes one
    * timed pass over each permuted copy `pass-<i>` run.py wrote. Each
    * query's figures are its medians over the timed passes, so a stall in
    * one pass does not set them. Before each pass, outside the timed work,
    * a full collection brings the heap back to what the session holds, so
    * every pass starts from the same heap and `heap_peak_mb` is the peak of
    * one pass, not the garbage promoted over all of them. */
  def run(ctx: Ctx): Unit = {
    import ctx._
    val base = s"$runDir/catalog"
    val expected = readExpected(s"$base/expected_digests.json")
    val dirs = Iterator.from(0).map(i => s"$base/pass-$i").takeWhile(d => new java.io.File(d).isDirectory)
      .toSeq

    queries.foreach { case (q, _) =>
      spark.catalog.clearCache()
      res.attempted += 1
      val got = digest(fn(q)(spark, s"$base/check"))
      res.meta(s"rows.$q") = got.takeWhile(_ != '|')
      if (!expected.get(q).contains(got)) {
        res.failed += 1
        res.problems += s"$q: digest $got != expected ${expected.getOrElse(q, "<none>")}"
      }
    }
    spark.catalog.clearCache()
    mark("outputs checked")
    val rows = queries.map(_._2).distinct.map { t =>
      t -> spark.read.parquet(s"${dirs.head}/$t.parquet").count()
    }.toMap

    jvm.collect()
    setupDone(Clock.nowMs)
    jvm.arm()
    val passes = dirs.zipWithIndex.map { case (d, p) =>
      if (p > 0) jvm.collect()
      pass(ctx, p, d)
    }
    jvm.disarm()
    spark.catalog.clearCache()
    mark("passes done")

    val passMs = passes.map(_.map(_.totalMs).sum)
    val queryMs = queries.map { case (q, _) => Stats.median(passes.map(_.find(_.query == q).get.totalMs)) }
    res.put("latency_p50_ms", queryMs.sum, "ms")
    res.put("latency_p95_ms", queryMs.max, "ms")
    res.put("throughput_rps", queries.map(q => rows(q._2)).sum / (queryMs.sum / 1000.0), "1/s")
    res.put("heap_peak_mb", jvm.oldGenPeakMb, "MB")
    res.meta ++= Seq("passes" -> passes.size.toString, "gc_events" -> jvm.gcEvents.toString,
      "pass_ms" -> passMs.map(m => f"$m%.0f").mkString(","),
      "table_rows" -> rows.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(","))

    if (trace) {
      res.put("jvm.gc_ms", jvm.gcMsInWindow, "ms")
      Thread.sleep(500) // listener bus: task-end events of the last job
      val byGroup = tracker.get.all.groupBy(_.group.getOrElse(""))
      def jobsOf(p: Int, q: String, ph: String) = byGroup.getOrElse(s"q:$p:$q:$ph", Nil)
      // per query: the median over passes of each figure
      queries.map(_._1).foreach { q =>
        val ts = passes.map(_.find(_.query == q).get)
        def perPass(f: (Int, Timing) => Double) = Stats.median(ts.zipWithIndex.map { case (t, p) => f(p, t) })
        def all(p: Int) = Seq("fn", "plan", "exec").flatMap(jobsOf(p, q, _))
        res.put(s"q.$q.fn_s", perPass((_, t) => t.fnMs) / 1000.0, "s")
        res.put(s"q.$q.plan_s", perPass((_, t) => t.planMs) / 1000.0, "s")
        res.put(s"q.$q.exec_s", perPass((_, t) => t.execMs) / 1000.0, "s")
        res.put(s"q.$q.eager_jobs", perPass((p, _) => jobsOf(p, q, "fn").size.toDouble), "count")
        res.put(s"q.$q.jobs", perPass((p, _) => all(p).size.toDouble), "count")
        res.put(s"q.$q.tasks", perPass((p, _) => all(p).map(_.tasks.get).sum.toDouble), "count")
        res.put(s"q.$q.shuffle_bytes", perPass((p, _) => all(p).map(_.shuffleBytes.get).sum.toDouble), "bytes")
        res.put(s"q.$q.spill_bytes", perPass((p, _) => all(p).map(_.spillBytes.get).sum.toDouble), "bytes")
        // jobs join the trace as children of the phase span that ran them
        ts.zipWithIndex.foreach { case (t, p) =>
          spans.toSeq.filter(_.parent == t.spanId).foreach { ph =>
            jobsOf(p, q, ph.kind).foreach(j => spans.add(ph.id, "job", s"job ${j.jobId}", j.startMs, j.endMs))
          }
        }
      }
      // driver-side time inside fn: the fn spans minus the jobs they ran, per pass
      val self = spans.selfMs
      val fnSpans = spans.toSeq.filter(_.kind == "fn").sortBy(_.startMs).grouped(queries.size).toSeq
      res.put("catalog.fn_driver_s", Stats.median(fnSpans.map(_.map(s => self(s.id)).sum)) / 1000.0, "s")
    }
  }
}
