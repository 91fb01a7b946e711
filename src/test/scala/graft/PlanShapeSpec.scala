package graft

/** Physical-plan regressions for the scale-posture claims in COVERAGE.md:
  * these assert the SHAPE (pushdown, pruning, broadcast, blocking equi-join,
  * bounded-heap top-k) that makes each operator viable at 100 TB — value
  * correctness alone (the DuckDB oracle) cannot catch a plan that silently
  * degrades to a full scan or a cartesian product.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q6_forecast_revenue pushes all four predicates and prunes to 4 columns") {
    val p = plan("q6_forecast_revenue")
    // toString elides the PushedFilters list tail; the head plus the scan's
    // 4-column ReadSchema pin the pushdown + pruning claims
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"scan reads more columns than the projection needs: $readSchema")
  }

  test("boilerplate set and benchmark shingles join as broadcasts over the corpus") {
    assert(plan("boilerplate_shingles").contains("BroadcastHashJoin"))
    assert(plan("contamination_check").contains("BroadcastHashJoin"))
  }

  test("semantic_dedup blocks pairs through a cell equi-join, never a cartesian") {
    val p = plan("semantic_dedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // nested-loop joins may appear only as the intentional 8-row centroid
    // cross broadcast (printed once per cached-subtree reference)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("Cross") && l.contains("BuildRight"), l))
  }

  test("the shared session carries the engine GraftSession builds") {
    val em = spark.sessionState.experimentalMethods
    assert(em.extraOptimizations.contains(org.apache.spark.sql.graft.RowNumberTopKRewrite))
    assert(em.extraStrategies.contains(org.apache.spark.sql.graft.TopKStrategy))
    assert(em.extraStrategies.contains(org.apache.spark.sql.graft.AsOfStrategy))
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
  }

  test("GraftSession is the only place under src/ that builds a session " +
      "or installs the engine extensions") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def filesMatching(re: String) = files.filter(f =>
      re.r.findFirstIn(java.nio.file.Files.readString(f)).nonEmpty)
      .map(_.getFileName.toString).sorted
    assert(filesMatching("SparkSession\\.builder") === Seq("GraftSession.scala"))
    assert(filesMatching("RowNumberTopKRewrite\\.install\\(") === Seq("GraftSession.scala"))
  }

  /** Names of the top-level members of `file` whose code (comment lines
    * skipped) contains `needle`; a member runs from its two-space-indented
    * definition line to the next one. */
  private def membersContaining(file: java.nio.file.Path, needle: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val Member = ("  (?:(?:private|protected)(?:\\[\\w+\\])? |override |lazy |final )*" +
      "(?:def|val|var|object|class|case class|trait) (\\w+).*").r
    var current = ""
    java.nio.file.Files.readAllLines(file).asScala.flatMap { line =>
      line match { case Member(n) => current = n; case _ => () }
      val t = line.trim
      val comment = t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      if (!comment && line.contains(needle)) Some(current) else None
    }.distinct.toSeq
  }

  test("the replay harness helpers are the only code that starts a memory " +
      "sink, makes a scratch dir or sets conf, and GraftSession.withConf " +
      "the only code under src/main that unsets conf") {
    import scala.jdk.CollectionConverters._
    val replay = java.nio.file.Paths.get("src/main/scala/graft/streaming/ReplayOps.scala")
    assert(membersContaining(replay, ".format(\"memory\")") === Seq("runToMemory"))
    assert(membersContaining(replay, "createTempDirectory") === Seq("withTempDir"))
    assert(membersContaining(replay, "spark.conf.set(") === Seq())
    val unsetting = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => membersContaining(f, "conf.unset(").map(m => s"${f.getFileName}:$m"))
      .toSeq
    assert(unsetting === Seq("GraftSession.scala:withConf"))
  }

  test("the MinHash family builds each LSH stage in one member, and " +
      "connected components has one distributed algorithm") {
    val dedup = java.nio.file.Paths.get("src/main/scala/graft/operators/DedupOps.scala")
    assert(membersContaining(dedup, "posexplode(array((0 until 4)") === Seq("lshBands"))
    assert(membersContaining(dedup, "col(\"x.band\") === col(\"y.band\")") ===
      Seq("lshCandidates"))
    assert(membersContaining(dedup, ".as(\"n_sh\")") === Seq("shingleCounts"))
    assert(membersContaining(dedup, "AS band, concat_ws(':'") === Seq("bandSelectsSql"))
    assert(membersContaining(dedup,
      "ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id") ===
      Seq("lshCandSql"))
    assert(membersContaining(dedup, "while (changed > 0)") === Seq())
  }

  test("the exact-pair family reads document frequencies in one member") {
    // the oracle SQL members keep their own dfreq join: they are the
    // independent statement the operators are checked against
    val dedup = java.nio.file.Paths.get("src/main/scala/graft/operators/DedupOps.scala")
    assert(membersContaining(dedup, "dfreq").filterNot(_.endsWith("Sql")) ===
      Seq("rarityArr"))
  }

  test("k-means and the PQ codebooks train through one Lloyd fixpoint loop") {
    val sim = java.nio.file.Paths.get("src/main/scala/graft/operators/SimilarityOps.scala")
    assert(membersContaining(sim, "converged") === Seq("lloyd"))
  }

  test("kmv_distinct k-smallest is heap-bounded BEFORE the shuffle") {
    // the aggregate-over-rank idiom rewritten into the bounded-heap
    // TopKPerKey: the shuffle carries at most k rows per group per input
    // partition
    val p = plan("kmv_distinct")
    assert(p.contains("TopKPerKey"), p)
  }

  test("TopKPerKey rewrite covers the aggregate-over-rank idiom when installed") {
    // a fresh session from newSession() has its own experimental methods, so
    // it plans without the engine extensions: the operator appears exactly
    // where GraftSession installed the rewrite
    def kmvPlan(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("kmv_distinct")(s, sf001).queryExecution.executedPlan.toString
    assert(kmvPlan(spark).contains("TopKPerKey"))
    val bare = spark.newSession()
    assert(bare.sessionState.experimentalMethods.extraOptimizations.isEmpty)
    assert(!kmvPlan(bare).contains("TopKPerKey"))
  }

  test("no query in the catalog plans an unpartitioned WindowExec over an " +
      "unbounded domain") {
    // A WindowExec with an empty partitionSpec funnels its whole input
    // through ONE reducer. The only survivors are calendar-bucket
    // pre-aggregates whose domain is bounded by elapsed wall-clock time
    // (hours / months), not by data volume; everything data-proportional
    // (customer_rfm, supplier_pareto, equidepth_histogram, vocab_growth)
    // runs through PrefixOps' two-level prefix sum instead.
    import org.apache.spark.sql.execution.window.WindowExec
    // skyline_parts: strict-prefix max over the max-size-per-distinct-price
    // pre-aggregate — bounded by the price domain (~2k cents values), not
    // by part count
    // daily_interp: ignoreNulls last/first over the calendar day spine —
    // bounded by elapsed wall-clock days, same class as monthly_revenue_mom
    // kaplan_meier: cumulative hazard over the distinct-lifetime domain —
    // bounded by the observation window in days, same class as daily_interp
    // benford_digits: total over the 9-row first-digit domain
    // lift_by_decile: cumulative gain over the fixed 10-row decile table
    // token_budget_waterfill: rank/prefix-sum over the per-SOURCE aggregate —
    // bounded by the source domain (~20 values), not by document count
    val allowed = Set("monthly_revenue_mom", "batch_summary", "skyline_parts",
      "daily_interp", "kaplan_meier", "benford_digits", "lift_by_decile",
      "token_budget_waterfill")
    // AQE off so executedPlan is a plain traversable tree (restored after)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf001).queryExecution.executedPlan
      val unpartitioned = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (unpartitioned.nonEmpty)
        assert(allowed(name), s"$name plans an unpartitioned WindowExec:\n" +
          unpartitioned.head.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no query in the catalog plans a cartesian product, and nested-loop " +
      "joins appear only where a tiny broadcast side is intentional") {
    // the allowlist: queries whose BroadcastNestedLoopJoin is a deliberate
    // tiny-side broadcast (8-row centroids, 1-row counts, bounded query
    // sets, the non-equi range join) — documented in each operator's scaladoc
    val bnljAllowed = Set(
      "ann_ivf", "kmeans_trained", "semantic_dedup", "cluster_balanced_sample",
      "cluster_topterms", // k-row centroid + 1-row cell-count broadcasts
      "mutual_information", // 1-row boundary/total broadcasts (psi shape)
      "cosine_topk", "cosine_topk_fast", "knn_classify", "mutual_knn",
      "matryoshka_recall", // bounded 20-anchor broadcast (cosine_topk class)
      "bigram_lm_score",
      "kn_bigram_score", // 1-row distinct-bigram-total broadcast (bigram_lm_score class)
      "tf_idf",
      "source_mixture_weights", "range_join_bands",
      "dau_wau", // day-table (≈30 rows) broadcast against user-day pairs
      // 1-row corpus-stats / query-embedding broadcasts (same class as tf_idf)
      "bm25_score", "rrf_fusion",
      "q22_idle_customers", // 1-row positive-balance mean broadcast
      "temperature_mixture", // 1-row Σ√n quota denominator broadcast
      "q11_important_stock", // 1-row (total, n_parts) threshold broadcast
      "bigram_collocations", // 1-row total-bigram-count broadcast
      "key_skew_report", // 1-row hottest-key broadcast
      "psi_drift", // 1-row decile-boundary array broadcast
      "acf_daily", // 1-row (n, S) + denominator broadcasts over the day spine
      "ccf_daily", // same class: 1-row moment/denominator broadcasts
      "assoc_rules", // 1-row order-count broadcast (lift denominator)
      "quantile_normalize", // 1-row pool-size broadcast + PrefixOps min/max
      "clustering_agreement", // 1-row Rand-term aggregates cross-broadcast
      "sorted_neighborhood", // PrefixOps 1-row min/max broadcast
      // PrefixOps broadcast + n_chars-histogram range self-join (bounded by
      // the length domain) + 1-row u-probability broadcast
      "fellegi_sunter",
      "emd_pairwise", // |types|-row broadcast to densify the value grid
      "percent_of_parent", // 1-row grand-total broadcast
      "cms_heavy_hitters", // 1-row CMS sketch array broadcast over 20 candidates
      "approx_quantiles_band", // 4-row quantile-grid broadcast over the bounded-domain distribution table
      "kmv_set_ops", // |types|-row domain self-paired under a < predicate
      "lsh_scurve_eval", // 1-row adaptive sample-modulus broadcast (truth side)
      "ann_recall_eval", // composes ann_ivf + cosine_topk (both allowlisted)
      "zorder_pruning_eval", // 1-row min/max stats broadcast
      "chi2_independence", // R×C marginal grid: two ≤|levels|-row broadcasts
      "mann_whitney", // 1-row (n, tie-term) global broadcast
      "time_to_conversion", // 1-row signup-count broadcast
      "kaplan_meier", // 1-row observation-window-end broadcast
      "dedup_impact_report", // three 1-row report aggregates crossed
      // PrefixOps ungrouped min/max: a 1-row aggregate cross-broadcast
      "customer_rfm", "supplier_pareto", "vocab_growth", "curriculum_phases",
      "epoch_plan", // 1-row source-count broadcast
      "cuped_lift", // 1-row pooled-theta moment broadcast
      "hellinger_drift", // type-list (~5 rows) + 1-row baseline-total broadcasts
      "ks_test", "welch_ttest", // 1-row global-moment broadcasts
      "hits_scores", // 1-row max-authority broadcast
      "modularity_score", // 1-row directed-edge-count broadcast
      "roc_auc", "calibration_bins", // 1-row class-sum / min-max broadcasts
      "hard_negatives", // bounded 30-anchor broadcast (cosine_topk class)
      "mmr_diversify", // 1-row query + <=20-row pool/selected broadcasts
      "t_closeness_report", // band-domain grid + 1-row (N, m) broadcasts
      "gini_split_sweep", // 15-row threshold-candidate broadcast (range_join class)
      "tree_depth2_sweep", // 1-row trained-root-split broadcast; the node sweeps themselves are equi BHJs
      "lift_by_decile", // 1-row global-rate broadcast over the 10-row deciles
      "jaro_winkler_pairs", // distinct-name domain (~64 rows) broadcast pair join
      "shapley_attribution", // 16-row coalition grid × 4-row channel broadcasts
      "bpe_learned_merges", "bpe_compression", // 1-row argmax-pair broadcast per merge round
      "pq_quantization", // 4-row per-subspace codebook broadcasts
      "pq_ann_eval", // codebook/LUT/probe-id broadcasts (≤ 20×4×4 rows)
      "dsir_importance_weights", // 1-row corpus-total broadcast into the 256-bucket ratio table
      "token_budget_waterfill", // 1-row total + 1-row (K, level) broadcasts over the per-source table
      "shard_plan", // PrefixOps 1-row global-stats + offsets-table broadcasts (corpus_topp_select class)
      "blocking_quality", // 1-row metric crossjoins (n_truth × n_cand × n_caught × n_docs)
      "epoch_shuffle", "padding_waste_report", // PrefixOps 1-row stats + offsets broadcasts (shard_plan class)
      "split_leakage_report", // 1-row metric crossjoins (blocking_quality class)
      "session_overlap_pairs") // PrefixOps ungrouped 1-row min/max broadcast ×2 (rank-arithmetic overlap counts)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (p.contains("BroadcastNestedLoopJoin"))
        assert(bnljAllowed(name),
          s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  test("image_ahash_near_dups blocks candidates through the band equi-join, " +
      "never all-pairs") {
    val p = plan("image_ahash_near_dups")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "banded candidate generation degraded to an all-pairs join")
  }

  test("asof_join_exec plans the custom sorted-merge as-of operator") {
    val p = plan("asof_join_exec")
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"),
      "the exec form must not fall back to the window formulation")
  }

  test("attribution_last_touch rides the custom as-of operator, not a window") {
    val p = plan("attribution_last_touch")
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"),
      "attribution must not fall back to the window formulation")
  }

  test("q18_large_orders broadcasts the qualifying keys back to the dims") {
    val p = plan("q18_large_orders")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("funnel_conversion stacks its windows on one user shuffle, no self-join") {
    val p = plan("funnel_conversion")
    assert(!p.contains("Join"), "funnel must not plan any join")
    // one exchange for the user partitioning + one for the final aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }
}
