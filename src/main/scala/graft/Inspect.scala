package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}

/** Dev tool: look inside registered queries on the [[GraftSession]] engine.
  * Measurement-only: not part of the Verify/Bench output contract.
  *
  *   runMain graft.Inspect explain <sfDir> [name...]
  *     formatted physical plan per query (no names → the whole catalog);
  *     pipe through
  *     `grep -E 'Scan|ReadSchema|PushedFilters|Exchange|TakeOrdered|Broadcast'`
  *     to audit pushdown, pruning and shuffle shape
  *   runMain graft.Inspect scans <sfDir> [name...]
  *     tables a query's executed plan scans more than once (no names → the
  *     whole catalog); a big table read twice in one action usually marks
  *     an uncached diamond
  *   runMain graft.Inspect jobs <sfDir> name... [n]
  *     run each query n times (default 2) and print the total with its
  *     fn/plan/exec split per run, then every job of the last (warm) run
  *     with its wall time, stages and tasks run, and description (a
  *     streaming job's description ends in `batch = <id>`), and that
  *     run's per-micro-batch durations
  */
object Inspect {
  private val usage = "usage: graft.Inspect <explain|scans|jobs> <sfDir> [name...] [n]"

  def main(args: Array[String]): Unit = {
    if (args.length < 2) sys.error(usage)
    val (mode, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    def catalogOr(names: Seq[String]) =
      if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    try mode match {
      case "explain" => explain(spark, sfDir, catalogOr(rest))
      case "scans" => scans(spark, sfDir, catalogOr(rest))
      case "jobs" =>
        val (names, n) = rest.lastOption.flatMap(_.toIntOption) match {
          case Some(n) => (rest.init, n)
          case None => (rest, 2)
        }
        if (names.isEmpty) sys.error(usage)
        jobs(spark, sfDir, names, n)
      case other => sys.error(s"unknown mode '$other'; $usage")
    } finally spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }

  /** Counts LIVE FileSourceScanExec nodes per table in the executed plan
    * (tree walk incl. subqueries — cached subtrees read via
    * InMemoryTableScan are not re-counted, unlike a string grep, which also
    * counts the lineage text stored inside InMemoryRelation). */
  private def scans(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    // AQE wraps the tree in AdaptiveSparkPlanExec (childless until
    // execution), which hides every node from collect — audit without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val scans = plan.collectWithSubqueries {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.headOption
              .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        }
        val multi = scans.groupBy(identity).view.mapValues(_.size)
          .filter(_._2 > 1).toSeq.sortBy(-_._2)
        if (multi.nonEmpty)
          println(s"[scan] $name  " + multi.map { case (t, c) => s"$t=$c" }.mkString(" "))
        spark.catalog.clearCache()
      } catch {
        case e: Throwable => println(s"[scan] $name ERROR ${e.getMessage}")
      }
    }
  }

  /** Attributes a multi-action operator's cost (iterative loops, replay
    * harnesses, convergence probes) to its individual Spark jobs and, for
    * streaming replays, to the engine's per-batch duration breakdown
    * (queryPlanning / walCommit / addBatch / getBatch / state commit — the
    * fixed overhead on the Spark driver that the [job] lines cannot see). */
  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String], n: Int): Unit = {
    // job -> (start, description, stages run, tasks run); stage -> its job
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, Int)]()
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Integer]()
    @volatile var enabled = false
    val batchLines = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = if (enabled) {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = p.stateOperators.map(s =>
          s"${s.operatorName}:commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}")
          .mkString(" ")
        println(s"[batch] ${p.name} #${p.batchId} rows=${p.numInputRows} $dur | $st")
      }
    }
    val jobLines = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        js.stageIds.foreach(jobOf.put(_, js.jobId))
        starts.put(js.jobId, (System.nanoTime(), desc.replace('\n', ' '), 0, 0))
      }
      // a skipped stage never completes, so it counts neither stage nor tasks
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        Option(jobOf.remove(sc.stageInfo.stageId)).foreach { job =>
          starts.computeIfPresent(job, (_, j) =>
            j.copy(_3 = j._3 + 1, _4 = j._4 + sc.stageInfo.numTasks))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, desc, stages, tasks) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"[job] ${je.jobId}%4d ${ms / 1000}%7.3f s  stages=$stages tasks=$tasks  $desc")
        }
    }
    spark.streams.addListener(batchLines)
    spark.sparkContext.addSparkListener(jobLines)
    try for (name <- names; i <- 1 to n) {
      spark.catalog.clearCache()
      enabled = i == n // job detail on the last (warm) run only
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      // let listener events drain before printing the total
      Thread.sleep(200)
      println(f"[profile] $name run $i: ${(t3 - t0) / 1e9}%.2f s " +
        f"(fn ${(t1 - t0) / 1e9}%.2f, plan ${(t2 - t1) / 1e9}%.2f, " +
        f"exec ${(t3 - t2) / 1e9}%.2f)")
    } finally {
      spark.streams.removeListener(batchLines)
      spark.sparkContext.removeSparkListener(jobLines)
    }
  }
}
