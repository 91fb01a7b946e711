package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators beyond plain relational algebra (north-star M3 extensions):
  * as-of join, range join, GROUPING SETS through the SQL surface.
  * None exist in the reference (SURVEY.md §2.7).
  */
object AdvancedOps extends QueryModule {

  private def events(s: SparkSession, dir: String) = Tables.t(s, dir, "events")

  /** As-of join (point-in-time lookup): for every event, the timestamp of the
    * most recent 'error' event of the same user at-or-before it.
    *
    * Spark-first shape: no join at all — a single partitioned sort +
    * last_value(…, ignoreNulls) running frame. At 100 TB this is one shuffle
    * on user_id and a linear scan per partition — strictly cheaper than the
    * range-join formulation (which would shuffle both sides and binary-search
    * per probe); the classic sorted-merge as-of join expressed declaratively.
    */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"),
        last(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
          .over(w).cast("timestamp_ntz").as("asof_error_ts"))
      .orderBy(col("event_id"))
  }

  /** Type-2 slowly-changing-dimension history (SCD2): treat the event
    * stream as attribute changes per user and build versioned dimension
    * rows — one row per run of a value, [valid_from, valid_to) with an
    * open (null) end and an is_current flag on the latest. The classic
    * warehouse history-build every dimension pipeline needs; the batch
    * complement of the as-of lookup (asof_join reads such a history,
    * this query WRITES one from a change log).
    *
    * Scale posture: two windows, both partitioned by user_id — one
    * shuffle, linear per-partition scans; no self-join, no global
    * window. (ts, event_id) is the total per-user order, so run
    * boundaries are deterministic even among same-instant events.
    */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val chOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("change_id"))
    events(s, dir)
      .filter(col("user_id") < 200)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("event_id").as("change_id"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(chOrd))
      .select(col("user_id"), col("change_id"), col("event_type"),
        col("valid_from").cast("timestamp_ntz").as("valid_from"),
        col("valid_to").cast("timestamp_ntz").as("valid_to"),
        col("valid_to").isNull.cast("long").as("is_current"))
      .orderBy(col("user_id"), col("change_id"))
  }

  private def scd2HistorySql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         LAG(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev_type
      |  FROM events WHERE user_id < 200
      |), ch AS (
      |  SELECT user_id, event_type, ts AS valid_from, event_id AS change_id
      |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type
      |), hist AS (
      |  SELECT user_id, change_id, event_type, valid_from,
      |         LEAD(valid_from) OVER (PARTITION BY user_id
      |           ORDER BY valid_from, change_id) AS valid_to
      |  FROM ch
      |)
      |SELECT user_id, change_id, event_type, valid_from, valid_to,
      |       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |         AS is_current
      |FROM hist ORDER BY user_id, change_id""".stripMargin

  /** The same point-in-time lookup through the custom physical operator
    * (org.apache.spark.sql.graft.AsOfJoin): events as the probe side,
    * error events as the (typically much smaller) build side, backward
    * as-of on (ts, event_id) per user. One hash exchange per side + an
    * O(n+m) sorted merge with a last-known carry — the two-table form the
    * window formulation above cannot express without first unioning the
    * build side into the probe (fine when the right side IS a filter of
    * the left, as here; impossible for a genuine second table). The window
    * formulation stays as the oracle: identical semantics, including the
    * <= tie (a right row at the probe's exact (ts, id) matches).
    */
  private def asofJoinExec(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      col("event_id"), col("user_id"),
      col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
    val errors = events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"),
        col("ts").cast("timestamp_ntz").as("error_ts"),
        col("event_id").as("e_id"))
    org.apache.spark.sql.graft.AsOfJoin(ev, errors,
        Seq(col("user_id")), Seq(col("e_user")),
        Seq(col("ts"), col("event_id")), Seq(col("error_ts"), col("e_id")))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("error_ts").as("asof_error_ts"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of through the same custom operator: for every event, the
    * timestamp of the NEXT error event of the same user at-or-after it —
    * the "time to next failure" / "next maintenance window" lookup, the
    * mirror of [[asofJoinExec]]. One hash exchange per side + the same
    * O(n+m) merge; forward mode peeks the sorted right head instead of
    * carrying, so nothing is buffered at all. Oracle: the FIRST_VALUE
    * IGNORE NULLS window over the following frame.
    */
  private def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      col("event_id"), col("user_id"),
      col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
    val errors = events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"),
        col("ts").cast("timestamp_ntz").as("error_ts"),
        col("event_id").as("e_id"))
    org.apache.spark.sql.graft.AsOfJoin(ev, errors,
        Seq(col("user_id")), Seq(col("e_user")),
        Seq(col("ts"), col("event_id")), Seq(col("error_ts"), col("e_id")),
        forward = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("error_ts").as("next_error_ts"))
      .orderBy(col("event_id"))
  }

  /** Last-touch attribution: every purchase credited to the user's latest
    * preceding click/view — the marketing-analytics shape behind every
    * "which channel drove this revenue" report, and the second consumer of
    * the custom backward as-of physical operator (this one a GENUINE
    * two-table form: the touch side carries columns the probe side lacks).
    * Purchases probe, touches build; one hash exchange per side and an
    * O(n+m) sorted merge with last-known carry. Purchases with no prior
    * touch stay unattributed (left-outer nulls → 'none').
    */
  private def attributionLastTouch(s: SparkSession, dir: String): DataFrame = {
    val purchases = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touches = events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"),
        col("ts").cast("timestamp_ntz").as("touch_ts"),
        col("event_id").as("touch_id"),
        col("event_type").as("touch_type"))
    org.apache.spark.sql.graft.AsOfJoin(purchases, touches,
        Seq(col("user_id")), Seq(col("t_user")),
        Seq(col("purchase_ts"), col("purchase_id")),
        Seq(col("touch_ts"), col("touch_id")))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("touch_id"), coalesce(col("touch_type"), lit("none")).as("touch_type"),
        col("cents"))
      .orderBy(col("purchase_id"))
  }

  private def attributionLastTouchSql: String =
    """WITH o AS (
      |  SELECT event_id, user_id, ts, event_type, value,
      |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
      |                    THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS touch_id,
      |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
      |                    THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS touch_type
      |  FROM events
      |)
      |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |       touch_id, COALESCE(touch_type, 'none') AS touch_type,
      |       CAST(ROUND(value * 100) AS BIGINT) AS cents
      |FROM o WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  /** Position-based (U-shaped) multi-touch attribution: each purchase's
    * credit splits over the user's click/view touches since the previous
    * purchase — 40% to the first touch, 40% to the last, 20% spread over
    * the middles (1000 millis total per attributed window; 1 touch takes
    * all, 2 take 500/500). Credits are exact integer millis: middles get
    * floor(200/(k−2)) each, with the remainder distributed +1 to the
    * earliest middles — so window credit sums to exactly 1000 and every
    * engine computes identical splits. The complement of last-touch
    * attribution (attribution_last_touch) when budget, not credit order,
    * is the question.
    *
    * Scale posture: window ids are a running purchase count over the SAME
    * per-user (ts, event_id) shuffle every sequence op rides; position/size
    * window over (user, window id) sub-partitions; the per-user purchase
    * total is an aggregated-domain equi-join. Output is |touch types| rows.
    */
  /** Shapley-value channel attribution — the game-theoretic answer to
    * "which touchpoints caused the conversions" that last-touch/position
    * rules approximate: channels are the 4 non-purchase event types, the
    * coalition value v(S) is the observed conversion rate of users whose
    * touched-channel set is exactly S, and each channel's credit is the
    * exact 4-player Shapley sum φ_c = Σ_S w(|S|)·(v(S∪c) − v(S)).
    *
    * Scale posture: the corpus collapses to ONE per-user aggregate (bitmask
    * of touched channels + converted flag) and one 16-row coalition table;
    * every Shapley term is a join between two tiny broadcast tables. The
    * weights w(s) = s!(n−1−s)!/n! enter as the same literal expressions in
    * both engines; v-rates divide exact longs; each term quantizes to
    * picos before the order-free sum (the psi_drift assembly discipline).
    * Unobserved coalitions take v = 0 (marketing-Shapley convention);
    * when all 16 are observed, Σφ = v(full) − v(∅) (efficiency) — pinned
    * in the spec.
    */
  private def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val users = events(s, dir).groupBy(col("user_id")).agg(
      (max(when(col("event_type") === "click", 1L).otherwise(0L)) +
        max(when(col("event_type") === "view", 2L).otherwise(0L)) +
        max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
        max(when(col("event_type") === "error", 8L).otherwise(0L))).as("mask"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val obs = users.groupBy(col("mask")).agg(
      count(lit(1)).cast("long").as("nu"),
      sum(col("conv")).cast("long").as("nc"))
    val grid = s.range(16).toDF("mask")
      .join(broadcast(obs), Seq("mask"), "left")
      .select(col("mask"),
        coalesce(col("nu"), lit(0L)).as("nu"),
        coalesce(col("nc"), lit(0L)).as("nc"))
      .withColumn("v", when(col("nu") > 0L,
        col("nc").cast("double") / col("nu").cast("double")).otherwise(lit(0.0)))
    val channels = s.createDataFrame(Seq(
      ("click", 1L), ("view", 2L), ("signup", 4L), ("error", 8L)))
      .toDF("channel", "bit")
    val s0 = grid.select(col("mask").as("m0"), col("v").as("v0"))
    val s1 = grid.select(col("mask").as("m1"), col("v").as("v1"))
    val w = when(bit_count(col("m0")).isin(0, 3), lit(0.25))
      .otherwise(lit(1.0) / lit(12.0))
    // per-channel reach from the 16-row coalition table, not the corpus
    val touched = broadcast(channels)
      .join(broadcast(grid.select(col("mask"), col("nu"))),
        expr("(mask & bit) <> 0"))
      .groupBy(col("channel"))
      .agg(sum(col("nu")).cast("long").as("n_touched_users"))
    broadcast(channels).join(broadcast(s0), expr("(m0 & bit) = 0"))
      .join(broadcast(s1), expr("m1 = (m0 | bit)"))
      .withColumn("term_pico", round(w * (col("v1") - col("v0")) * 1e12).cast("long"))
      .groupBy(col("channel"))
      .agg(sum(col("term_pico")).cast("long").as("phi_pico"))
      .join(broadcast(touched), Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_touched_users"), lit(0L)).as("n_touched_users"),
        col("phi_pico"),
        (col("phi_pico").cast("double") / 1e12).as("phi"))
      .orderBy(col("channel"))
  }

  private val shapleyAttributionSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      + MAX(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
      |      + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
      |      + MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1
      |), obs AS (
      |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS nu,
      |    CAST(SUM(conv) AS BIGINT) AS nc
      |  FROM users GROUP BY 1
      |), grid AS (
      |  SELECT g.mask, COALESCE(o.nu, 0) AS nu, COALESCE(o.nc, 0) AS nc,
      |    CASE WHEN COALESCE(o.nu, 0) > 0
      |         THEN CAST(CAST(o.nc AS STRING) AS DOUBLE) / CAST(o.nu AS DOUBLE)
      |         ELSE 0.0 END AS v
      |  FROM (SELECT unnest(generate_series(0, 15)) AS mask) g
      |  LEFT JOIN obs o ON o.mask = g.mask
      |), channels AS (
      |  SELECT * FROM (VALUES ('click', 1), ('view', 2), ('signup', 4),
      |                        ('error', 8)) AS t(channel, bit)
      |), touched AS (
      |  SELECT channel, CAST(SUM(nu) AS BIGINT) AS n_touched_users
      |  FROM channels JOIN grid ON (grid.mask & channels.bit) <> 0
      |  GROUP BY 1
      |), terms AS (
      |  SELECT c.channel,
      |    CAST(ROUND(
      |      (CASE WHEN bit_count(s0.mask) IN (0, 3) THEN 0.25
      |            ELSE 1.0 / 12.0 END)
      |      * (s1.v - s0.v) * 1e12) AS BIGINT) AS term_pico
      |  FROM channels c
      |  JOIN grid s0 ON (s0.mask & c.bit) = 0
      |  JOIN grid s1 ON s1.mask = (s0.mask | c.bit)
      |)
      |SELECT t.channel,
      |  COALESCE(tc.n_touched_users, 0) AS n_touched_users,
      |  CAST(SUM(t.term_pico) AS BIGINT) AS phi_pico,
      |  CAST(CAST(SUM(t.term_pico) AS BIGINT) AS DOUBLE) / 1e12 AS phi
      |FROM terms t LEFT JOIN touched tc ON tc.channel = t.channel
      |GROUP BY 1, 2 ORDER BY t.channel""".stripMargin

  private def attributionPosition(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("w", coalesce(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(byTime.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val np = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(count(lit(1)).as("np"))
    val byWin = Window.partitionBy(col("user_id"), col("w"))
      .orderBy(col("ts"), col("event_id"))
    val winAll = Window.partitionBy(col("user_id"), col("w"))
    ev.filter(col("event_type").isin("click", "view"))
      .join(np, Seq("user_id"))
      .filter(col("w") < col("np")) // only windows closed by a purchase
      .withColumn("pos", row_number().over(byWin).cast("long"))
      .withColumn("k", count(lit(1)).over(winAll))
      .withColumn("credit_milli",
        when(col("k") === 1L, lit(1000L))
          .when(col("k") === 2L, lit(500L))
          .when(col("pos") === 1L || col("pos") === col("k"), lit(400L))
          .otherwise(expr(
            "200 div (k - 2) + (CASE WHEN pos - 1 <= 200 % (k - 2) THEN 1 ELSE 0 END)")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_milli")).as("credit_milli"))
      .orderBy(col("event_type"))
  }

  private def attributionPositionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS w
      |  FROM events
      |), np AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS np
      |  FROM ev WHERE event_type = 'purchase' GROUP BY 1
      |), t AS (
      |  SELECT e.event_type,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY e.user_id, e.w
      |                            ORDER BY e.ts, e.event_id) AS BIGINT) AS pos,
      |    CAST(COUNT(*) OVER (PARTITION BY e.user_id, e.w) AS BIGINT) AS k
      |  FROM ev e JOIN np USING (user_id)
      |  WHERE e.event_type IN ('click', 'view') AND e.w < np.np
      |)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(CASE WHEN k = 1 THEN 1000
      |                WHEN k = 2 THEN 500
      |                WHEN pos = 1 OR pos = k THEN 400
      |                ELSE 200 // (k - 2)
      |                     + CASE WHEN pos - 1 <= 200 % (k - 2) THEN 1 ELSE 0 END
      |           END) AS BIGINT) AS credit_milli
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Range join: lineitem priced into literal bands via a broadcast
    * non-equi join (BroadcastNestedLoopJoin against 4 rows — the probe side
    * streams, nothing shuffles). */
  private def rangeJoinBands(s: SparkSession, dir: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      ("00_low", 0.0, 20000.0),
      ("01_mid", 20000.0, 60000.0),
      ("02_high", 60000.0, 100000.0),
      ("03_premium", 100000.0, Double.MaxValue)
    )).toDF("band", "lo", "hi")
    Tables.t(s, dir, "lineitem")
      .join(broadcast(bands),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      .orderBy(col("band"))
  }

  /** GROUPING SETS through the SQL surface (DataFrame API only exposes
    * rollup/cube): independent marginals without the cross terms. */
  private def groupingSetsSql(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).createOrReplaceTempView("events_gs")
    s.sql(
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |       CAST(grouping_id() AS BIGINT) AS gid,
        |       COUNT(*) AS n
        |FROM events_gs
        |GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 10 AS BIGINT)), ())
        |ORDER BY gid, event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST
        |""".stripMargin)
  }

  /** Per-key top-k through the custom physical operator
    * (org.apache.spark.sql.graft.TopKPerKey): bounded-heap partial top-k per
    * input partition → hash exchange on key → final top-k. The shuffle
    * carries ≤ k·keys·partitions rows instead of the whole table; the window
    * row_number formulation (the oracle) fully sorts every group.
    */
  private def topkExec(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
    org.apache.spark.sql.graft.TopKPerKey(
      orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keys = Seq(col("o_custkey")),
      orderBy = Seq(col("o_totalprice").desc, col("o_orderkey")),
      k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Skew-mitigated aggregation: two-phase salt (groupBy(key, salt) partial →
    * groupBy(key) final). Identical result to the direct aggregate — the
    * pattern matters at 100 TB when one key dominates: the first phase fans a
    * hot key over 16 reducers instead of one. (AQE skew handling covers
    * joins; aggregation salting is still manual.) Long-quantized cents keep
    * it order-independent and oracle-exact.
    */
  private def saltedAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(round(col("value") * 100).cast("long")).as("pc"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), sum(col("pc")).as("value_cents"))
      .orderBy(col("event_type"))

  /** MERGE INTO semantics (Delta/Hudi-style upsert) as a batch relational
    * op: target = BUILDING-segment customers' balances, source = per-customer
    * order totals. Matched keys update (balance + delta), source-only keys
    * insert, target-only keys keep — the standard three-branch MERGE,
    * expressed as one full-outer join + branch projection. Cents-long math
    * keeps it oracle-exact.
    *
    * Scale posture: a MERGE at 100 TB is exactly this shuffle-on-key
    * full-outer join; with a bucketed target table the shuffle of the target
    * side disappears. KvUpsertSink is the incremental form: each batch is
    * appended, and the merge runs at read.
    */
  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    // explicit presence markers, not payload null-ness: branching on
    // bal_cents/delta_cents would misclassify a target row whose balance is
    // NULL (or a NULL source SUM) — the oracle tests key presence, so must we
    val target = Tables.t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
        lit(true).as("in_target"))
    val source = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey").as("key"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("delta_cents"))
      .withColumn("in_source", lit(true))
    target.join(source, Seq("key"), "full_outer")
      .select(
        col("key"),
        when(col("in_target").isNotNull && col("in_source").isNotNull, "update")
          .when(col("in_target").isNull, "insert")
          .otherwise("keep").as("action"),
        (coalesce(col("bal_cents"), lit(0L)) + coalesce(col("delta_cents"), lit(0L)))
          .as("new_bal_cents"))
      .orderBy(col("key"))
  }

  /** Exact percentiles per group by order statistic (p50/p90/p99) over the
    * COMPRESSED value domain: pre-aggregate to (event_type, value, cnt) —
    * a map-side-combining hash aggregate — then rank only the distinct
    * values with a cumulative-count window and pick the smallest value whose
    * cumulative count reaches ceil(p·n). Identical order statistics to
    * ranking raw rows (duplicates collapse into the count), but the window
    * sort sees |distinct values| rows per group, not |rows|: events.value is
    * 2-decimal data (~56k distinct values over its full range), so at 100 TB
    * each of the 5 reducers sorts ≤56k rows instead of the whole corpus —
    * the skew the raw-window form would hit is engineered away before the
    * shuffle. No interpolation, no sketch: values stay bit-exact.
    */
  private def exactPercentiles(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    events(s, dir)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("value"))).as("p50"),
        min(when(col("cum") >= ceil(col("n") * 0.9), col("value"))).as("p90"),
        min(when(col("cum") >= ceil(col("n") * 0.99), col("value"))).as("p99"))
      .orderBy(col("event_type"))
  }

  /** Navigation-window suite: lag/lead/ntile/percent_rank per user over the
    * event timeline — the remaining window-function families (offset,
    * distribution, bucketing) beyond the running/topk forms already covered.
    * Unique (ts, event_id) order makes every output deterministic.
    */
  private def windowLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .filter(col("user_id") < 50)
      .select(
        col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** Skew-mitigated JOIN via key salting: events.event_type has 5 heavily
    * skewed values, so a plain shuffle join lands each hot key on ONE
    * reducer. The big side salts with pmod(event_id, 16); the dim side
    * replicates ×16 (explode of a literal range — dim stays tiny); the join
    * key becomes (event_type, salt) — 80 evenly-sized groups instead of 5
    * hot ones. Identical result to the unsalted join; this is the manual
    * form of AQE's skew-join splitting, usable where AQE can't see the skew
    * (e.g. before an aggregation, or under a fixed partitioner).
    */
  private def skewJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val weights = Seq(("click", 1L), ("view", 2L), ("purchase", 10L),
      ("error", 0L), ("signup", 5L))
    val dim = s.createDataFrame(weights).toDF("event_type", "weight")
      .withColumn("salt", explode(sequence(lit(0), lit(15))))
    val big = events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)).cast("int"))
    big.join(dim.hint("shuffle_merge"), Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long") * col("weight"))
          .as("weighted_cents"))
      .orderBy(col("event_type"))
  }

  /** Z-order clustering key: interleave the bits of two dimensions
    * (user_id, value bucket) into one sortable key — the space-filling-curve
    * primitive under OPTIMIZE ZORDER BY. Rows sorted by zkey are clustered
    * in BOTH dimensions at once, so min/max file statistics prune scans on
    * either predicate. Pure integer bit math (10+10 bits), bit-identical
    * across engines; the sort is the write-side layout pass, here over a
    * bounded subset so the output stays hash-comparable.
    */
  private def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val xb = pmod(col("user_id"), lit(1024L))             // 10-bit dim 1
    // clamped at BOTH ends: a negative value would give a negative bucket,
    // and shifting a negative is an ERROR in DuckDB but silent sign-extended
    // wraparound in Spark — the worst kind of cross-engine divergence
    // (hostile_events caught it)
    val yb = greatest(least(floor(col("value") / 0.2), lit(1023L)), lit(0L))
      .cast("long")                                       // 10-bit dim 2
    val z = (0 until 10).map { i =>
      (shiftleft(shiftright(col("xb"), i) % 2, 2 * i + 1) +
        shiftleft(shiftright(col("yb"), i) % 2, 2 * i)).cast("long")
    }.reduce(_ + _)
    events(s, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id"), xb.as("xb"), yb.as("yb"))
      .withColumn("zkey", z)
      .orderBy(col("zkey"), col("event_id"))
  }

  private def zorderKeySql: String = {
    val terms = (0 until 10).map(i =>
      s"(((xb >> $i) % 2) << ${2 * i + 1}) + (((yb >> $i) % 2) << ${2 * i})")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT event_id,
       |    user_id % 1024 AS xb,
       |    CAST(GREATEST(LEAST(FLOOR(value / 0.2), 1023), 0) AS BIGINT) AS yb
       |  FROM events WHERE event_id < 2000
       |)
       |SELECT event_id, xb, yb, CAST($terms AS BIGINT) AS zkey
       |FROM b ORDER BY zkey, event_id""".stripMargin
  }

  /** Z-order pruning effectiveness — the eval that justifies OPTIMIZE
    * ZORDER: lay the SAME rows out as 16 "files" two ways (natural
    * insertion order by event_id vs zkey order), compute each file's
    * min/max stats per dimension, and count the files a 10%-of-domain
    * range predicate on EACH dimension would have to scan. The z-order
    * layout prunes on both dimensions at once; natural order only
    * clusters whatever correlates with insertion time. File assignment is
    * the pure-integer equi-width bucket ((v − lo)·16 div (hi − lo + 1)) —
    * no engine-dependent float bucketing; the stats pass is two hash
    * aggregates over the 2000-row audited zkey subset.
    */
  private def zorderPruningEval(s: SparkSession, dir: String): DataFrame = {
    val base = zorderKey(s, dir) // event_id, xb, yb, zkey (bounded subset)
    val stats = base.agg(
      min(col("event_id")).as("e_lo"), max(col("event_id")).as("e_hi"),
      min(col("zkey")).as("z_lo"), max(col("zkey")).as("z_hi"))
    val b = base.crossJoin(broadcast(stats))
      .withColumn("file_nat",
        expr("((event_id - e_lo) * 16) div (e_hi - e_lo + 1)"))
      .withColumn("file_z",
        expr("((zkey - z_lo) * 16) div (z_hi - z_lo + 1)"))
    def scanned(fileCol: String, layout: String): DataFrame =
      b.groupBy(col(fileCol).as("f"))
        .agg(min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .agg(
          count(lit(1)).cast("long").as("n_files"),
          sum((col("x_max") >= 0 && col("x_min") <= 99).cast("long"))
            .cast("long").as("files_scanned_dim1"),
          sum((col("y_max") >= 0 && col("y_min") <= 99).cast("long"))
            .cast("long").as("files_scanned_dim2"))
        .select(lit(layout).as("layout"), col("n_files"),
          col("files_scanned_dim1"), col("files_scanned_dim2"))
    scanned("file_nat", "natural").unionAll(scanned("file_z", "zorder"))
      .orderBy(col("layout"))
  }

  private def zorderPruningEvalSql: String = {
    val terms = (0 until 10).map(i =>
      s"(((xb >> $i) % 2) << ${2 * i + 1}) + (((yb >> $i) % 2) << ${2 * i})")
      .mkString(" + ")
    s"""WITH b0 AS (
       |  SELECT event_id,
       |    user_id % 1024 AS xb,
       |    CAST(GREATEST(LEAST(FLOOR(value / 0.2), 1023), 0) AS BIGINT) AS yb
       |  FROM events WHERE event_id < 2000
       |), z AS (
       |  SELECT event_id, xb, yb, CAST($terms AS BIGINT) AS zkey FROM b0
       |), st AS (
       |  SELECT MIN(event_id) AS e_lo, MAX(event_id) AS e_hi,
       |         MIN(zkey) AS z_lo, MAX(zkey) AS z_hi
       |  FROM z
       |), b AS (
       |  SELECT z.*,
       |    ((event_id - e_lo) * 16) // (e_hi - e_lo + 1) AS file_nat,
       |    ((zkey - z_lo) * 16) // (z_hi - z_lo + 1) AS file_z
       |  FROM z CROSS JOIN st
       |), per_file AS (
       |  SELECT 'natural' AS layout, file_nat AS f,
       |    MIN(xb) AS x_min, MAX(xb) AS x_max,
       |    MIN(yb) AS y_min, MAX(yb) AS y_max
       |  FROM b GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'zorder' AS layout, file_z AS f,
       |    MIN(xb) AS x_min, MAX(xb) AS x_max,
       |    MIN(yb) AS y_min, MAX(yb) AS y_max
       |  FROM b GROUP BY 1, 2
       |)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(CASE WHEN x_max >= 0 AND x_min <= 99 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS files_scanned_dim1,
       |  CAST(SUM(CASE WHEN y_max >= 0 AND y_min <= 99 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS files_scanned_dim2
       |FROM per_file GROUP BY 1 ORDER BY layout""".stripMargin
  }

  /** Data-quality audit (the deequ/dbt-test shape): declarative constraint
    * checks over the star schema, one (check, n_violations) row each —
    * referential integrity via anti-join, uniqueness via group-having,
    * range and non-emptiness via filters. Each check is independently
    * parallel; the union is a tiny constant-width result. The operator a
    * pipeline runs BEFORE publishing a table.
    */
  private def dataQualityReport(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.t(s, dir, n)
    val orphanLineitems = t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_orderkey_refs_orders").as("check_name"), col("n_violations"))
    val dupCustomers = t("customer")
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_violations"))
      .select(lit("customer_custkey_unique").as("check_name"), col("n_violations"))
    val valueRange = t("events")
      .filter(col("value") < 0.0 || col("value") > 1000.0)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("events_value_in_range").as("check_name"), col("n_violations"))
    val nonEmptyDocs = t("documents")
      .filter(length(col("text")) === 0)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("documents_text_nonempty").as("check_name"), col("n_violations"))
    val positivePrices = t("orders")
      .filter(col("o_totalprice") <= 0.0)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orders_totalprice_positive").as("check_name"), col("n_violations"))
    orphanLineitems.unionAll(dupCustomers).unionAll(valueRange)
      .unionAll(nonEmptyDocs).unionAll(positivePrices)
      .orderBy(col("check_name"))
  }

  private def dataQualityReportSql: String =
    """SELECT check_name, n_violations FROM (
      |  SELECT 'lineitem_orderkey_refs_orders' AS check_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_violations
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderkey IS NULL
      |  UNION ALL
      |  SELECT 'customer_custkey_unique',
      |    CAST(COALESCE(SUM(c), 0) AS BIGINT)
      |  FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey
      |        HAVING COUNT(*) > 1)
      |  UNION ALL
      |  SELECT 'events_value_in_range', CAST(COUNT(*) AS BIGINT)
      |  FROM events WHERE value < 0.0 OR value > 1000.0
      |  UNION ALL
      |  SELECT 'documents_text_nonempty', CAST(COUNT(*) AS BIGINT)
      |  FROM documents WHERE length(text) = 0
      |  UNION ALL
      |  SELECT 'orders_totalprice_positive', CAST(COUNT(*) AS BIGINT)
      |  FROM orders WHERE o_totalprice <= 0.0
      |) ORDER BY check_name""".stripMargin

  /** Snapshot diff (time travel): the per-user as-of state (last event type
    * by (ts, event_id)) at two snapshot times, full-outer-joined and
    * classified added / changed / unchanged — the "what moved between
    * yesterday's and today's snapshot" readout a lakehouse time-travel
    * audit produces. Each as-of state is one user-partitioned window over
    * the time-pruned scan (the predicate pushes to the scan, so the T1
    * side reads only its half of the data); the diff is a single user-key
    * equi-join. Append-only input means no 'removed' class; the classifier
    * still emits it so schema-stable consumers see the full enum.
    */
  private val SNAP_T1 = "2024-01-15"

  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    def asOf(upTo: Option[String], p: String): DataFrame = {
      val base = upTo.foldLeft(events(s, dir))((d, t) =>
        d.filter(col("ts") <= lit(t).cast("timestamp")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      base
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as(s"${p}_type"))
    }
    asOf(Some(SNAP_T1), "t1")
      .join(asOf(None, "t2"), Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("t1_type").isNull, "added")
          .when(col("t2_type").isNull, "removed")
          .when(col("t1_type") =!= col("t2_type"), "changed")
          .otherwise("unchanged"))
      .select(col("user_id"), col("t1_type"), col("t2_type"), col("status"))
      .orderBy(col("user_id"))
  }

  private def snapshotDiffSql: String =
    s"""WITH t1 AS (
       |  SELECT user_id, event_type AS t1_type FROM (
       |    SELECT user_id, event_type,
       |           ROW_NUMBER() OVER (PARTITION BY user_id
       |             ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '$SNAP_T1 00:00:00')
       |  WHERE rn = 1
       |), t2 AS (
       |  SELECT user_id, event_type AS t2_type FROM (
       |    SELECT user_id, event_type,
       |           ROW_NUMBER() OVER (PARTITION BY user_id
       |             ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events)
       |  WHERE rn = 1
       |)
       |SELECT COALESCE(t1.user_id, t2.user_id) AS user_id, t1_type, t2_type,
       |  CASE WHEN t1_type IS NULL THEN 'added'
       |       WHEN t2_type IS NULL THEN 'removed'
       |       WHEN t1_type <> t2_type THEN 'changed'
       |       ELSE 'unchanged' END AS status
       |FROM t1 FULL OUTER JOIN t2 ON t1.user_id = t2.user_id
       |ORDER BY user_id""".stripMargin

  /** Decision-stump training sweep — the distributed primitive under every
    * tree learner: for 15 equi-width candidate thresholds over the
    * centi-quantized `value`, the class counts and weighted Gini impurity
    * of the (v ≤ t) split predicting `event_type = 'error'`. One pass:
    * the 15-row threshold table broadcast against the scan (each row lands
    * in every ≥-its-value candidate via the non-equi condition), one hash
    * aggregate, exact ppm Gini on a DECIMAL(38,0) carrier (pos²·10⁶ wraps
    * BIGINT past ~3e6 rows per side). The argmin row is the trained stump;
    * emitting the whole sweep keeps the hash channel over every candidate.
    * NULL values/types are excluded (no position on the threshold grid).
    */
  // integral `div` throughout, never decimal `/`: Spark's decimal
  // division ROUNDS half-up at the result scale while DuckDB's `//`
  // truncates — a one-ulp class of hash mismatch
  private def giniExpr(p: String, q: String): String =
    s"""CASE WHEN ($p) + ($q) > 0 THEN 1000000 -
       |  (CAST($p AS DECIMAL(38,0)) * ($p) + CAST($q AS DECIMAL(38,0)) * ($q))
       |    * 1000000 div
       |  (CAST(($p) + ($q) AS DECIMAL(38,0)) * (($p) + ($q)))
       |ELSE 0 END""".stripMargin

  /** The events rows as (vc, y): centi-quantized `value`, label
    * `event_type = 'error'`. Shared by the stump and depth-2 sweeps. */
  private def stumpBase(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(round(col("value") * 100).cast("long").as("vc"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("y"))

  /** One threshold sweep per node over a node-tagged (node, vc, y) set:
    * 15 equi-width candidates on each node's own [lo, hi], class counts
    * and exact ppm Gini of each (vc ≤ t) split. The candidate table is at
    * most 15·|nodes| rows, broadcast against one scan of the tagged set
    * (equi on node + the non-equi threshold lands as a BroadcastHashJoin
    * residual, ≤15× bounded amplification). */
  private def nodeSweep(tagged: DataFrame): DataFrame = {
    val mm = tagged.groupBy(col("node"))
      .agg(min(col("vc")).as("lo"), max(col("vc")).as("hi"),
        count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("pos"))
    val cand = mm.select(col("node").as("cnode"),
      explode(sequence(lit(1), lit(15))).as("i"),
      col("lo"), col("hi"), col("n"), col("pos"))
      .select(col("cnode"), col("i").cast("long").as("i"),
        expr("lo + ((hi - lo) * i) div 16").as("t_centi"),
        col("n"), col("pos"))
    tagged.join(broadcast(cand),
        col("node") === col("cnode") && col("vc") <= col("t_centi"))
      .groupBy(col("node"), col("i"), col("t_centi"), col("n"), col("pos"))
      .agg(count(lit(1)).cast("long").as("n_l"),
        sum(col("y")).cast("long").as("pos_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("pos_r", col("pos") - col("pos_l"))
      .withColumn("g_l", expr(giniExpr("pos_l", "n_l - pos_l")))
      .withColumn("g_r", expr(giniExpr("pos_r", "n_r - pos_r")))
      .select(col("node"), col("i"), col("t_centi"), col("n_l"),
        col("pos_l"), col("n_r"), col("pos_r"),
        expr("""(CAST(n_l AS DECIMAL(38,0)) * g_l +
                 CAST(n_r AS DECIMAL(38,0)) * g_r) div n""").as("gini_ppm"))
  }

  private def giniSplitSweep(s: SparkSession, dir: String): DataFrame =
    nodeSweep(stumpBase(s, dir).withColumn("node", lit("root")))
      .drop("node")
      .orderBy(col("i"))

  private val giniSplitSweepSql: String =
    """WITH base AS (
      |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      |), mm AS (
      |  SELECT MIN(vc) AS lo, MAX(vc) AS hi, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS pos
      |  FROM base
      |), cand AS (
      |  SELECT CAST(i AS BIGINT) AS i,
      |    CAST(lo + ((hi - lo) * i) // 16 AS BIGINT) AS t_centi, n, pos
      |  FROM mm, LATERAL (SELECT unnest(generate_series(1, 15)) AS i) g
      |), agg AS (
      |  SELECT c.i, c.t_centi, c.n, c.pos,
      |    CAST(COUNT(*) AS BIGINT) AS n_l, CAST(SUM(b.y) AS BIGINT) AS pos_l
      |  FROM base b JOIN cand c ON b.vc <= c.t_centi
      |  GROUP BY 1, 2, 3, 4
      |), g AS (
      |  SELECT i, t_centi, n_l, pos_l, n - n_l AS n_r, pos - pos_l AS pos_r, n,
      |    CASE WHEN n_l > 0 THEN 1000000 -
      |      (CAST(pos_l AS HUGEINT) * pos_l +
      |       CAST(n_l - pos_l AS HUGEINT) * (n_l - pos_l)) * 1000000 //
      |      (CAST(n_l AS HUGEINT) * n_l) ELSE 0 END AS g_l,
      |    CASE WHEN n - n_l > 0 THEN 1000000 -
      |      (CAST(pos - pos_l AS HUGEINT) * (pos - pos_l) +
      |       CAST((n - n_l) - (pos - pos_l) AS HUGEINT) *
      |         ((n - n_l) - (pos - pos_l))) * 1000000 //
      |      (CAST(n - n_l AS HUGEINT) * (n - n_l)) ELSE 0 END AS g_r
      |  FROM agg
      |)
      |SELECT i, t_centi, n_l, pos_l, n_r, pos_r,
      |  CAST((CAST(n_l AS HUGEINT) * g_l + CAST(n_r AS HUGEINT) * g_r) // n
      |       AS BIGINT) AS gini_ppm
      |FROM g ORDER BY i""".stripMargin

  /** Depth-2 decision-tree training sweep — the canonical next step past
    * the stump, and the shape every level-synchronous distributed tree
    * learner repeats: (1) the root's 15-threshold sweep, (2) argmin by
    * (gini_ppm, i) picks the trained root split t0 (a 1-row broadcast —
    * `min(struct(...))` here, `ORDER BY ... LIMIT 1` in the oracle; `i` is
    * unique so the tie-break is total), (3) every row is tagged L/R by
    * t0 and BOTH child nodes sweep their own 15 candidates in ONE extra
    * pass (the candidate table carries the node key, so the broadcast
    * non-equi join stays ≤15× amplification regardless of node count —
    * exactly how a depth-d learner does 2^d nodes per level in one scan).
    * Output = the root sweep plus both child sweeps, node-keyed; the
    * argmin row per node is the trained tree. All-integer ppm Gini on
    * DECIMAL(38,0) carriers, as [[giniSplitSweep]]. A child with no rows
    * contributes no sweep rows (both engines agree: empty GROUP BY group).
    * The (vc, y) projection is cached across the three passes — two longs
    * per row, the standard columnar-feature residency a tree learner keeps.
    */
  private def treeDepth2Sweep(s: SparkSession, dir: String): DataFrame = {
    val base = stumpBase(s, dir).cache()
    val rootSweep = nodeSweep(base.withColumn("node", lit("root")))
    val t0 = rootSweep
      .agg(min(struct(col("gini_ppm"), col("i"), col("t_centi"))).as("m"))
      .select(col("m.t_centi").as("t0"))
    val tagged = base.crossJoin(broadcast(t0))
      .withColumn("node", when(col("vc") <= col("t0"), "L").otherwise("R"))
      .select(col("node"), col("vc"), col("y"))
    rootSweep.unionByName(nodeSweep(tagged))
      .orderBy(col("node"), col("i"))
  }

  private val treeDepth2SweepSql: String = {
    // the per-node sweep, as a SQL template over a (node, vc, y) CTE
    def sweepSql(src: String): String =
      s"""  SELECT c.node, c.i, c.t_centi, c.n, c.pos,
         |    CAST(COUNT(*) AS BIGINT) AS n_l, CAST(SUM(b.y) AS BIGINT) AS pos_l
         |  FROM $src b JOIN (
         |    SELECT node, CAST(i AS BIGINT) AS i,
         |      CAST(lo + ((hi - lo) * i) // 16 AS BIGINT) AS t_centi, n, pos
         |    FROM (
         |      SELECT node, MIN(vc) AS lo, MAX(vc) AS hi,
         |        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
         |      FROM $src GROUP BY node
         |    ) mm, LATERAL (SELECT unnest(generate_series(1, 15)) AS i) g
         |  ) c ON b.node = c.node AND b.vc <= c.t_centi
         |  GROUP BY 1, 2, 3, 4, 5""".stripMargin
    def giniSql(src: String): String =
      s"""  SELECT node, i, t_centi, n_l, pos_l,
         |    n - n_l AS n_r, pos - pos_l AS pos_r, n,
         |    CASE WHEN n_l > 0 THEN 1000000 -
         |      (CAST(pos_l AS HUGEINT) * pos_l +
         |       CAST(n_l - pos_l AS HUGEINT) * (n_l - pos_l)) * 1000000 //
         |      (CAST(n_l AS HUGEINT) * n_l) ELSE 0 END AS g_l,
         |    CASE WHEN n - n_l > 0 THEN 1000000 -
         |      (CAST(pos - pos_l AS HUGEINT) * (pos - pos_l) +
         |       CAST((n - n_l) - (pos - pos_l) AS HUGEINT) *
         |         ((n - n_l) - (pos - pos_l))) * 1000000 //
         |      (CAST(n - n_l AS HUGEINT) * (n - n_l)) ELSE 0 END AS g_r
         |  FROM ($src)""".stripMargin
    val finalCols =
      """node, i, t_centi, n_l, pos_l, n_r, pos_r,
        |  CAST((CAST(n_l AS HUGEINT) * g_l + CAST(n_r AS HUGEINT) * g_r) // n
        |       AS BIGINT) AS gini_ppm""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
       |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
       |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
       |), t1 AS (
       |  SELECT 'root' AS node, vc, y FROM base
       |), sweep1 AS (
       |  SELECT $finalCols
       |  FROM (
       |${giniSql(sweepSql("t1"))}
       |  )
       |), root_pick AS (
       |  SELECT t_centi AS t0 FROM sweep1 ORDER BY gini_ppm, i LIMIT 1
       |), t2 AS (
       |  SELECT CASE WHEN vc <= t0 THEN 'L' ELSE 'R' END AS node, vc, y
       |  FROM base, root_pick
       |), sweep2 AS (
       |  SELECT $finalCols
       |  FROM (
       |${giniSql(sweepSql("t2"))}
       |  )
       |)
       |SELECT * FROM sweep1 UNION ALL SELECT * FROM sweep2
       |ORDER BY node, i""".stripMargin
  }

  override def queries: Seq[Q] = Seq(
    Q("gini_split_sweep", giniSplitSweep, Some(giniSplitSweepSql)),
    Q("tree_depth2_sweep", treeDepth2Sweep, Some(treeDepth2SweepSql)),
    Q("snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    Q("scd2_history", scd2History, Some(scd2HistorySql)),
    Q("data_quality_report", dataQualityReport, Some(dataQualityReportSql)),
    Q("zorder_key", zorderKey, Some(zorderKeySql)),
    Q("zorder_pruning_eval", zorderPruningEval, Some(zorderPruningEvalSql)),
    Q("merge_upsert", mergeUpsert, Some(
      """WITH target AS (
        |  SELECT c_custkey AS key,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |), source AS (
        |  SELECT o_custkey AS key,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS delta_cents
        |  FROM orders GROUP BY 1
        |)
        |SELECT COALESCE(t.key, s.key) AS key,
        |  CASE WHEN t.key IS NOT NULL AND s.key IS NOT NULL THEN 'update'
        |       WHEN t.key IS NULL THEN 'insert' ELSE 'keep' END AS action,
        |  COALESCE(t.bal_cents, 0) + COALESCE(s.delta_cents, 0) AS new_bal_cents
        |FROM target t FULL OUTER JOIN source s ON t.key = s.key
        |ORDER BY key""".stripMargin)),
    Q("exact_percentiles", exactPercentiles, Some(
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events
        |)
        |SELECT event_type, MAX(n) AS n,
        |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN value END) AS p50,
        |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN value END) AS p90,
        |  MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN value END) AS p99
        |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("window_lead_lag", windowLeadLag, Some(
      """SELECT user_id, event_id, ts, value,
        |  LAG(value, 1) OVER w AS prev_value,
        |  LEAD(value, 1) OVER w AS next_value,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin)),
    Q("skew_join_salted", skewJoinSalted, Some(
      """SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT) * d.weight) AS BIGINT)
        |    AS weighted_cents
        |FROM events e
        |JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 10),
        |             ('error', 0), ('signup', 5)) d(event_type, weight)
        |  ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    Q("salted_agg", saltedAgg, Some(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("topk_exec_per_customer", topkExec, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),
    Q("asof_join", asofJoin, Some(
      """SELECT event_id, user_id, ts, event_type,
        |  LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS asof_error_ts
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("asof_join_exec", asofJoinExec, Some(
      """SELECT event_id, user_id, ts, event_type,
        |  LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS asof_error_ts
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("asof_join_forward", asofJoinForward, Some(
      """SELECT event_id, user_id, ts, event_type,
        |  FIRST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS next_error_ts
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("attribution_last_touch", attributionLastTouch,
      Some(attributionLastTouchSql)),
    Q("shapley_attribution", shapleyAttribution, Some(shapleyAttributionSql)),
    Q("attribution_position", attributionPosition,
      Some(attributionPositionSql)),
    Q("range_join_bands", rangeJoinBands, Some(
      """SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem
        |JOIN (VALUES ('00_low', 0.0, 20000.0),
        |             ('01_mid', 20000.0, 60000.0),
        |             ('02_high', 60000.0, 100000.0),
        |             ('03_premium', 100000.0, 1e308)) b(band, lo, hi)
        |  ON l_extendedprice >= b.lo AND l_extendedprice < b.hi
        |GROUP BY b.band ORDER BY b.band""".stripMargin)),
    Q("grouping_sets", groupingSetsSql, Some(
      """SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |  CAST(GROUPING(event_type, CAST(user_id % 10 AS BIGINT)) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 10 AS BIGINT)), ())
        |ORDER BY gid, event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin))
  )
}
