package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Superset relational operators (SURVEY.md §2.7 / §7.3 M3): joins of every
  * flavor, ranking/analytic window functions, rollup/cube, set operations,
  * global top-k, pivot, JSON extraction. The reference has none of these
  * (SURVEY.md §2.7) — they are the north-star analytics surface.
  *
  * Scale posture: fact-fact joins shuffle on join keys with AQE; dimension
  * joins are explicitly `broadcast()` (nation/region/supplier/customer are
  * tiny at any SF — TPC-H dims grow sublinearly vs lineitem). Aggregates use
  * the decimal-exact pattern (per-row DOUBLE math, DECIMAL accumulation,
  * final DOUBLE) so results are order-independent → identical under any
  * parallelism, which is both the 1000-executor determinism story and the
  * DuckDB-oracle story.
  */
object RelationalOps extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** SUM(expr) computed exactly: per-row double, µ-quantized by explicit
    * ROUND (half-away-from-zero in BOTH engines, even exactly ON a
    * boundary — pinned by the hostile fixtures), summed in DECIMAL(38,0),
    * string-routed back to double (HUGEINT→DOUBLE is not correctly rounded
    * in DuckDB), /1e6.
    *
    * Round 7: this replaced `sum(c.cast(DECIMAL(38,6)))` — the implicit
    * double→decimal cast rounds HALF_UP on the double's SHORTEST DECIMAL
    * rendering in Spark but on the binary value in DuckDB, so a per-row
    * product landing within one double ULP of a 1e-7 half boundary (q1
    * sum_charge on hostile_relational: 500.125·0.93·1.01) summed one µ
    * apart across engines. ROUND's boundary behavior is engine-identical,
    * so the quantized carrier cannot diverge.
    */
  private def dsum(c: Column): Column =
    (sum(round(c * 1e6).cast(DecimalType(38, 0)))
      .cast("string").cast("double") / 1e6)

  // ---- TPC-H Q1 analog: scan + filter + wide aggregate --------------------

  private def q1Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---- TPC-H Q3 analog: 3-way join + agg + top-k --------------------------

  private def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(
        col("l_orderkey"),
        col("revenue"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // ---- TPC-H Q5 analog: 6-way join with broadcast dims --------------------

  private def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  // ---- semi / anti joins --------------------------------------------------

  /** Left-semi: customers having at least one open ('O') order. */
  private def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val openOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
    t(s, dir, "customer")
      .join(openOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti: customers with no pending ('P') order. */
  private def antiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  // ---- window functions ---------------------------------------------------

  /** Ranking: top-3 orders per customer by totalprice (row_number). */
  private def windowTopkPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Analytic frame: per-supplier running quantity + lag over ship order.
    * The window order tie-breaks through l_partkey, l_extendedprice, AND
    * l_quantity (the value being lagged/summed): (l_orderkey, l_linenumber)
    * is NOT unique in this synthetic lineitem (118k duplicate pairs at
    * sf0.1) — without the full tail, rows colliding on every other key but
    * differing in quantity would make prev_qty/running_qty engine-arbitrary.
    * Appending the measure itself makes determinism structural rather than
    * dependent on the current data's key uniqueness. */
  /** Hot-key gate for [[windowRunningSupplier]] (round 13, guide §2.5):
    * a per-supplier window serializes each supplier through ONE task, so a
    * hot supplier above this many rows makes that task the stage
    * (SKEW_BENCH.json measured 3.53× wall on a 50%-hot supplier — the worst
    * ratio in the catalog, and AQE skew handling applies only to joins,
    * never windows). Above the gate the same three analytics run through
    * the PrefixOps two-level prefix machinery (every stage parallel); below
    * it the plain window is cheaper (the prefix form pays ~5 extra
    * exchanges). The gate is a DATA-shape bound (rows serialized through
    * one task), not a core-count constant — at any cluster size a >250k-row
    * single-key sort is a straggler. Probe cost: one partial-aggregated
    * count over the projection the query caches anyway. */
  private val WRS_SINGLE_KEY_MAX = 250000L

  /** The projection both window_running_supplier paths consume (cached:
    * probe + analytics share one materialization). Package-private for the
    * path-equality spec. */
  private[graft] def wrsBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_extendedprice"),
        col("l_quantity"),
        // long-quantized running sum: exact, order-independent, ~10× faster
        // than a DECIMAL(38,6) running frame at 600k rows
        round(col("l_quantity") * 1e6).cast("long").as("_q6"))
      .cache()

  private def windowRunningSupplier(s: SparkSession, dir: String): DataFrame = {
    val base = wrsBase(s, dir)
    val mRow = base.groupBy(col("l_suppkey")).count()
      .agg(max(col("count"))).head()
    val hot = !mRow.isNullAt(0) && mRow.getLong(0) > WRS_SINGLE_KEY_MAX
    windowRunningSupplierBy(base, prefixPath = hot)
  }

  /** Both physical forms of window_running_supplier over the projected+
    * cached `base` (package-private: PropertySpec asserts path equality on
    * the hostile-skew fixture). Row-identical by construction:
    *
    *  - window path: the r10 formulation — one exchange on l_suppkey, two
    *    window specs.
    *  - prefix path: running_qty + the ship-order global rank from ONE
    *    [[PrefixOps.withGlobalPrefix]] pass bucketed by shipdate;
    *    LAG re-attached via a self-join on the UNIQUE (suppkey, g_rank)
    *    (many-to-one, no row multiplication even for fully duplicate input
    *    tuples); RANK() from a second pass bucketed by quantity using the
    *    rank-of-first-peer identity rank(r) = min(row_number) over r's tie
    *    group (ties sit on consecutive row_numbers, so the min is
    *    deterministic even though the tie order itself is not), re-attached
    *    by the tie-group key — a many-to-one join again.
    */
  private[graft] def windowRunningSupplierBy(base: DataFrame,
      prefixPath: Boolean): DataFrame = {
    val ordCols = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
    val out =
      if (!prefixPath) {
        val ord = Window.partitionBy(col("l_suppkey")).orderBy(ordCols: _*)
        base.select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          (sum(col("_q6"))
            .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / 1e6).as("running_qty"),
          lag(col("l_quantity"), 1).over(ord).as("prev_qty"),
          rank().over(Window.partitionBy(col("l_suppkey"))
            .orderBy(col("l_quantity").desc, col("l_orderkey"),
              col("l_linenumber"))).as("qty_rank"),
          col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      } else {
        val pre = PrefixOps.withGlobalPrefix(base,
          // cast: fixture shipdates are TIMESTAMP_NTZ; same µs under the
          // UTC session zone, and unix_micros needs TIMESTAMP
          bucketBy = unix_micros(col("l_shipdate").cast("timestamp")),
          order = ordCols, groupKeys = Seq("l_suppkey"), sums = Seq("_q6"))
          .cache() // feeds both sides of the lag self-join
        val prev = pre.select(col("l_suppkey").as("_p_sk"),
          (col("g_rank") + lit(1L)).as("_p_rk"),
          col("l_quantity").as("prev_qty"))
        val withLag = pre.join(prev,
          col("l_suppkey") === col("_p_sk") && col("g_rank") === col("_p_rk"),
          "left").drop("_p_sk", "_p_rk")
        val byQty = PrefixOps.withGlobalPrefix(base,
          bucketBy = -col("_q6"), // monotone non-decreasing along qty DESC
          order = Seq(col("l_quantity").desc, col("l_orderkey"),
            col("l_linenumber")),
          groupKeys = Seq("l_suppkey"))
        val ranks = byQty.groupBy(col("l_suppkey"), col("l_quantity"),
            col("l_orderkey"), col("l_linenumber"))
          .agg(min(col("g_rank")).cast("int").as("qty_rank"))
        withLag
          .join(ranks,
            Seq("l_suppkey", "l_quantity", "l_orderkey", "l_linenumber"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            (col("g_run__q6").cast("double") / 1e6).as("running_qty"),
            col("prev_qty"), col("qty_rank"),
            col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      }
    // same tie-break tail as the window: the checker canonicalizes row
    // order before hashing, but leaving the OUTPUT order engine-arbitrary
    // for the duplicate (orderkey, linenumber) rows invites future
    // order-sensitive consumers to inherit the ambiguity
    out.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"), col("prev_qty"), col("qty_rank"),
        col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"), col("prev_qty"), col("qty_rank"))
  }

  // ---- grouping sets / rollup / cube --------------------------------------

  private def rollupReturns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"), asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private def cubeSegmentPriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("gid"), asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderpriority"))

  // ---- set operations -----------------------------------------------------

  /** INTERSECT (set semantics): users who both clicked and purchased. */
  private def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** EXCEPT (set semantics): users with a high-value error but no
    * high-value purchase. */
  private def setExcept(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.filter(col("event_type") === "error" && col("value") > 180.0)
      .select(col("user_id"))
      .except(ev.filter(col("event_type") === "purchase" && col("value") > 180.0)
        .select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** UNION ALL + re-aggregate across two branches. */
  private def setUnionAll(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hi = ev.filter(col("value") > 150.0)
      .select(col("event_type"), lit("high").as("band"))
    val lo = ev.filter(col("value") <= 50.0)
      .select(col("event_type"), lit("low").as("band"))
    hi.unionAll(lo)
      .groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("band"))
  }

  // ---- global top-k -------------------------------------------------------

  /** ORDER BY … LIMIT k — plans as TakeOrderedAndProject (per-partition top-k
    * + driver merge of k·partitions rows, never a global sort of the table). */
  private def topkOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  // ---- pivot --------------------------------------------------------------

  /** Pivot event counts per user (explicit value list → no extra distinct job). */
  private def pivotUserEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = t(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((df, ty) => df.withColumn(ty, coalesce(col(ty), lit(0L))))
      .orderBy(col("user_id"))
  }

  // ---- more TPC-H analogs -------------------------------------------------

  /** TPC-H Q6 analog: the pure scan-filter-aggregate query. The whole WHERE
    * clause is parquet-pushable (`PushedFilters` carries all four predicates)
    * and the scan reads 3 of 11 columns — the canonical 100 TB shape where
    * I/O pruning IS the query plan. */
  private def q6Forecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(
        dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q14 analog: promo revenue share — broadcast dim join + conditional
    * aggregate, both sums decimal-exact before the one final division. */
  private def q14Promo(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0)))
          / dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("promo_revenue_pct"))

  /** TPC-H Q18 analog: large-volume orders — HAVING over a fact aggregate,
    * then the qualifying keys (tiny) drive broadcast joins back to the dims.
    * At 100 TB the lineitem aggregate is the only full shuffle; everything
    * after it is broadcast-sized. */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    t(s, dir, "orders")
      .join(broadcast(bigOrders), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** TPC-H Q7 analog: bilateral shipping volume between two nations — the
    * dim table joined TWICE under different roles (supplier vs customer
    * nation), disjunctive pair filter, per-year revenue. Both nation joins
    * broadcast; the only fact shuffle is the final 3-key aggregate. */
  private def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q10 analog: revenue lost to returned items per customer, top 20 —
    * fact filter + broadcast dims + TakeOrderedAndProject on the aggregate. */
  private def q10ReturnedItems(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q8 analog: one nation's market share inside a region — the
    * conditional-share-of-aggregate pattern: numerator as a CASE inside the
    * same decimal-exact sum, denominator the unconditional sum, one
    * division per year. Nation joined twice (supplier side for the share,
    * customer side for the region scope); every dim broadcast. */
  private def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_regionkey"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (dsum(when(col("supp_nation") === "NATION_1", vol).otherwise(lit(0.0)))
          / dsum(vol)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q19 analog: disjunctive multi-attribute join filter — three
    * brand/size/quantity condition groups OR-ed across the lineitem×part
    * broadcast join. Catalyst extracts the common `p_partkey` equi-key and
    * keeps the disjunction as a post-join filter; none of the three arms
    * degrades the join to a nested loop. */
  private def q19Discount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 35)))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  // ---- subquery surface (spark.sql → Catalyst decorrelation) --------------

  private def withViews(s: SparkSession, dir: String, names: String*)(sql: String): DataFrame = {
    names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  /** Uncorrelated scalar subquery: orders above the global average price.
    * The average is cents-quantized (o_totalprice carries 2 decimals, so
    * ROUND(·*100) longs sum exactly) — order-independent, engine-identical.
    * Catalyst plans the subquery once and broadcasts the scalar. */
  private def scalarSubqueryAboveAvg(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "orders")(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) / 100.0
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin)

  /** Correlated scalar subquery: customers whose single largest order tops a
    * threshold. Catalyst decorrelates this into an aggregate + join — the
    * plan a hand-written groupBy/join would produce, from declarative SQL. */
  private def correlatedMaxOrder(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "customer", "orders")(
      """SELECT c_custkey, c_name,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c
        |WHERE (SELECT MAX(o_totalprice) FROM orders o
        |       WHERE o.o_custkey = c.c_custkey) > 450000.0
        |ORDER BY c_custkey""".stripMargin)

  /** NOT IN subquery — null-aware anti-join semantics (Spark plans a
    * NullAwareAntiJoin when the subquery side is nullable): parts that never
    * ship in near-max quantities. */
  private def notInHeavyParts(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "part", "lineitem")(
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0)
        |ORDER BY p_partkey""".stripMargin)

  /** LATERAL correlated subquery with ORDER BY + LIMIT — per-nation top-2
    * suppliers by balance, the "top-k per outer row" SQL surface (Catalyst
    * decorrelates the limit into a partitioned rank, the same physical
    * plan the window formulation gets — declared, not hand-built). */
  private def lateralTop2Suppliers(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "nation", "supplier")(
      """SELECT n.n_name, t.s_suppkey, t.s_acctbal
        |FROM nation n, LATERAL (
        |  SELECT s_suppkey, s_acctbal FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        |ORDER BY n.n_name, t.s_suppkey""".stripMargin)

  private val lateralTop2SuppliersSql: String =
    """SELECT n.n_name, t.s_suppkey, t.s_acctbal
      |FROM nation n, LATERAL (
      |  SELECT s_suppkey, s_acctbal FROM supplier s
      |  WHERE s.s_nationkey = n.n_nationkey
      |  ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
      |ORDER BY n.n_name, t.s_suppkey""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE) — reachability to 3 hops
    * from the seed part over the co-purchase edge list, as pure declarative
    * SQL: the anchor is the seed, each recursion step joins the previous
    * level's rows to the edges (level-synchronous by construction — the
    * working table is exactly last iteration's rows in both engines), the
    * final aggregate keeps MIN(dist). The imperative sibling is
    * [[bfsHops]]; this is the same graph primitive expressed in the SQL
    * surface, with the DISTINCT-per-level bound (≤ |V| rows per level)
    * keeping the recursion linear, not path-enumerating.
    */
  private def recursiveReachability(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
      // cached: the recursion references this view once per LEVEL (plus the
      // anchor's scalar subquery) — uncached, every level re-derives the
      // edge list from lineitem (measured 11.6 s -> ~2 s at bench SF)
      .cache()
      .createOrReplaceTempView("copurchase_edges")
    s.sql(
      """WITH RECURSIVE reach(node, dist) AS (
        |  SELECT CAST((SELECT MIN(src) FROM copurchase_edges) AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT DISTINCT e.dst, r.dist + CAST(1 AS BIGINT)
        |  FROM reach r JOIN copurchase_edges e ON r.node = e.src
        |  WHERE r.dist < 3
        |)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
  }

  private val recursiveReachabilitySql: String =
    """WITH RECURSIVE li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey
      |), reach(node, dist) AS (
      |  SELECT (SELECT MIN(src) FROM edges), CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT DISTINCT e.dst, r.dist + 1
      |  FROM reach r JOIN edges e ON r.node = e.src
      |  WHERE r.dist < 3
      |)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM reach GROUP BY node ORDER BY node""".stripMargin

  /** Spark 4 VARIANT ingestion of the semi-structured props column:
    * try_parse_json → binary VARIANT → typed try_variant_get extraction,
    * aggregated per event type. Functionally the get_json_object path
    * ([[jsonPropsStats]]) — but VARIANT parses once into a binary form and
    * every later field access is a cheap typed probe, the right shape when
    * a 100 TB pipeline touches several fields of the same payload.
    *
    * Typed-probe semantics, pinned across both engines: only values whose
    * JSON type IS integer count as k. Spark's variant cast would otherwise
    * coerce (5.7 → 5 truncated, "31" → 31, true → 1) while DuckDB's
    * TRY_CAST on the extracted string ROUNDS 5.7 → 6 — so the schema guard
    * (`schema_of_variant = 'BIGINT'`; in-range JSON integers always probe
    * as BIGINT, non-integers as DECIMAL, out-of-int64 as DECIMAL(>18,0))
    * pairs with the oracle's `json_type IN ('BIGINT','UBIGINT')`. The
    * contrast with [[jsonPropsStats]] (string coercion: "31" counts) is
    * deliberate and fixture-tested. */
  private def variantPropsStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isNotNull)
      .withColumn("kv", expr("try_variant_get(try_parse_json(props), '$.k')"))
      .withColumn("k",
        expr("CASE WHEN schema_of_variant(kv) = 'BIGINT'" +
          " THEN try_variant_get(kv, '$', 'bigint') END"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        count(col("k")).cast("long").as("n_with_k"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).cast("long").as("min_k"),
        max(col("k")).cast("long").as("max_k"))
      .orderBy(col("event_type"))

  private val variantPropsStatsSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(props)
      |           AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
      |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |    END AS k
      |  FROM events WHERE event_type IS NOT NULL
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(k) AS BIGINT) AS n_with_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(MAX(k) AS BIGINT) AS max_k
      |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SQL pipe syntax (Spark 4's `|>` operators — FROM … |> WHERE … |>
    * EXTEND … |> AGGREGATE … |> ORDER BY): the linear query form reading
    * top-to-bottom in dataflow order. Same logical plan as the nested
    * formulation the oracle runs (Catalyst parses pipes into the ordinary
    * operators, so plan shape and performance are identical) — the query
    * pins that equivalence through the hash channel. Cents-quantized sum
    * keeps the aggregate exact on both engines. */
  private def pipeSyntaxAgg(s: SparkSession, dir: String): DataFrame =
    withViews(s, dir, "lineitem")(
      """FROM lineitem
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        ||> EXTEND CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents
        ||> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)

  private val pipeSyntaxAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Heterogeneous-schema VARIANT audit — the per-event-type field
    * inventory a real semi-structured props column needs before anyone
    * writes typed extractions against it: every top-level key, its JSON
    * type class, and how often it occurs. Spark side is the Spark-4 VARIANT
    * path end-to-end: `try_parse_json` once → `variant_explode` LATERAL
    * over the object fields → `schema_of_variant` per value; one hash
    * aggregate after the generator, no per-key re-parse. Contrast with
    * [[variantPropsStats]], which probes a single known path.
    *
    * Type classes are pinned across engines (Spark `schema_of_variant` vs
    * DuckDB `json_type(props, path)`): int (BIGINT/UBIGINT), num (DOUBLE
    * and decimal-typed JSON numbers), str, bool, obj, arr, null. One pinned
    * asymmetry, documented out of contract: integer literals OUTSIDE int64
    * probe as DECIMAL(p,0) on Spark ('num') but UBIGINT in DuckDB for
    * [2^63, 2^64) ('int') — fixtures contain none (hostile fixture sweeps
    * str/num/bool/nested-obj/malformed/NULL). Second pinned asymmetry,
    * same status: a JSON object with DUPLICATE top-level keys
    * ({"k":1,"k":2}) is rejected by Spark's try_parse_json (row excluded,
    * like malformed input) but accepted by DuckDB's json_valid/json_keys
    * (last-key-wins, row counted) — RFC 8259 leaves the choice open.
    * Fixtures contain no duplicate-key rows; a corpus that has them needs
    * the dup-key rows filtered oracle-side
    * (len(json_keys(props)) = len(list_distinct(json_keys(props)))) to
    * keep the contract exact. Non-object and malformed
    * props rows are excluded on both sides (try_parse_json → NULL; the
    * oracle guards json_keys' argument, since DuckDB's JSON laterals ABORT
    * on malformed input if filtered only in WHERE).
    */
  private def variantFieldInventory(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), expr("try_parse_json(props)").as("v"))
      .filter(expr("schema_of_variant(v) LIKE 'OBJECT%'"))
      .createOrReplaceTempView("variant_inv_src")
    s.sql(
      """WITH f AS (
        |  SELECT event_type, f.key AS key, schema_of_variant(f.value) AS st
        |  FROM variant_inv_src, LATERAL variant_explode(v) AS f
        |)
        |SELECT event_type, key,
        |  CASE WHEN st = 'BIGINT' THEN 'int'
        |       WHEN st = 'DOUBLE' OR st LIKE 'DECIMAL%' THEN 'num'
        |       WHEN st = 'STRING' THEN 'str'
        |       WHEN st = 'BOOLEAN' THEN 'bool'
        |       WHEN st LIKE 'OBJECT%' THEN 'obj'
        |       WHEN st LIKE 'ARRAY%' THEN 'arr'
        |       WHEN st = 'VOID' THEN 'null'
        |       ELSE 'other' END AS type_class,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM f GROUP BY event_type, key, type_class
        |ORDER BY event_type, key, type_class""".stripMargin)
  }

  private val variantFieldInventorySql: String =
    """WITH f AS (
      |  SELECT e.event_type, u.key AS key,
      |    json_type(e.props, '$."' || u.key || '"') AS jt
      |  FROM events e, UNNEST(json_keys(
      |    CASE WHEN json_valid(e.props) AND json_type(e.props) = 'OBJECT'
      |         THEN e.props END)) AS u(key)
      |  WHERE e.event_type IS NOT NULL
      |)
      |SELECT event_type, key,
      |  CASE jt WHEN 'BIGINT' THEN 'int' WHEN 'UBIGINT' THEN 'int'
      |    WHEN 'DOUBLE' THEN 'num' WHEN 'VARCHAR' THEN 'str'
      |    WHEN 'BOOLEAN' THEN 'bool' WHEN 'OBJECT' THEN 'obj'
      |    WHEN 'ARRAY' THEN 'arr' WHEN 'NULL' THEN 'null'
      |    ELSE 'other' END AS type_class,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- window value/distribution functions --------------------------------

  /** Frame-addressed value functions + distribution: per-customer order
    * history with first/last/2nd order price over the full-partition frame
    * and each order's cume_dist by price. The (price, orderkey) ordering is
    * unique, so cume_dist is an exact rational position/n. */
  private def windowFrameValues(s: SparkSession, dir: String): DataFrame = {
    val hist = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        first(col("o_totalprice")).over(hist).as("first_price"),
        last(col("o_totalprice")).over(hist).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(hist).as("second_price"),
        cume_dist().over(byPrice).as("price_cume_dist"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Centered moving average: a 7-row (±3) frame over each user's event
    * sequence — the smoothing-window idiom (frames so far are trailing or
    * full-partition; this is the symmetric variant). Cents-quantized sum
    * over the frame, exact count division.
    */
  private def windowMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    Tables.t(s, dir, "events")
      .filter(col("user_id") < 20)
      .select(
        col("user_id"), col("event_id"),
        (sum(round(col("value") * 100).cast("long")).over(w).cast("double") /
          count(lit(1)).over(w) / 100.0).as("centered_avg_7"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Percent-of-total + dense_rank: each customer's share of its market
    * segment's total balance (cents-exact numerator/denominator, one IEEE
    * division) and its dense rank by balance. */
  private def windowShareRank(s: SparkSession, dir: String): DataFrame = {
    val seg = Window.partitionBy(col("c_mktsegment"))
    val byBal = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc)
    t(s, dir, "customer")
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        (round(col("c_acctbal") * 100).cast("long").cast("double") /
          sum(round(col("c_acctbal") * 100).cast("long")).over(seg).cast("double"))
          .as("share_of_segment"),
        dense_rank().over(byBal).cast("long").as("bal_dense_rank"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** Market-basket co-purchase pairs: part pairs appearing in the same
    * order, top 20 by support — the association-rules primitive. The
    * self-join blocks on l_orderkey (pair space bounded by per-order line
    * count, ~7 lines → ~21 pairs per order, never corpus²); ordered pairs
    * a<b count each co-occurrence once.
    */
  private def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    // one shuffle total: collect each order's distinct part set (dedup
    // happens inside the aggregate — no separate DISTINCT shuffle), then
    // emit a<b pairs with array HOFs inside codegen instead of a self-join
    // (which would shuffle lineitem a second time). Per-order sets are
    // ~7 parts, so the explode fan-out is the same ~21 pairs per order the
    // join produced — but with two fewer shuffles of the big table.
    val pairs = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + lit(2),
          greatest(size(col("ps")) - i - lit(1), lit(0))),
        y => struct(x.as("part_a"), y.as("part_b")))))
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(pairs).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** Item-item collaborative-filtering similarity: top 20 part pairs by
    * co-occurrence cosine c_ab / √(c_a·c_b) — the "customers who bought X
    * also bought Y" primitive, normalizing raw co-purchase support by both
    * items' popularity. One cached per-order part-set aggregate feeds BOTH
    * the a<b pair fan-out (array HOFs inside codegen, bounded by per-order
    * set size — the copurchase_pairs shape) and the per-part margins; a
    * support ≥ 5 filter shrinks the pair table BEFORE the margin joins
    * (per-part equi-joins — broadcast-sized at bench SF, vocabulary-keyed
    * at corpus scale). Ranking uses the exact integer argument
    * c_ab²·10⁶ div (c_a·c_b) (monotone in cosine — no float in the order);
    * the reported cosine itself is the identically-associated IEEE
    * √-then-÷ of exact longs, bit-equal across engines.
    */
  private def itemItemSim(s: SparkSession, dir: String): DataFrame = {
    val pairsHof = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + lit(2),
          greatest(size(col("ps")) - i - lit(1), lit(0))),
        y => struct(x.as("part_a"), y.as("part_b")))))
    // cached: drives the pair fan-out and the margin counts (Q contract)
    val orderSets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .cache()
    val pairCnt = orderSets
      .select(explode(pairsHof).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    val margins = orderSets
      .select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("c"))
    pairCnt
      .join(margins.select(col("part").as("part_a"), col("c").as("c_a")), "part_a")
      .join(margins.select(col("part").as("part_b"), col("c").as("c_b")), "part_b")
      .withColumn("score_ppm",
        expr("(c_ab * c_ab * 1000000L) div (c_a * c_b)"))
      .select(col("part_a"), col("part_b"), col("c_ab"), col("c_a"), col("c_b"),
        col("score_ppm"),
        (col("c_ab").cast("double") /
          sqrt((col("c_a") * col("c_b")).cast("double"))).as("cosine"))
      .orderBy(col("score_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  private val itemItemSimSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pair_cnt AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |         CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |), margins AS (
      |  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY 1
      |)
      |SELECT part_a, part_b, c_ab, ma.c AS c_a, mb.c AS c_b,
      |  (c_ab * c_ab * 1000000) // (ma.c * mb.c) AS score_ppm,
      |  CAST(c_ab AS DOUBLE) / sqrt(CAST(ma.c * mb.c AS DOUBLE)) AS cosine
      |FROM pair_cnt
      |JOIN margins ma ON ma.part = part_a
      |JOIN margins mb ON mb.part = part_b
      |ORDER BY score_ppm DESC, part_a, part_b LIMIT 20""".stripMargin

  /** Association rules from the co-purchase pairs: top 20 DIRECTED rules
    * a→b by confidence c_ab/c_a, with support and lift c_ab·N/(c_a·c_b) —
    * the classic market-basket output on top of [[itemItemSim]]'s counts.
    * Both ranking arguments are exact integers (confidence_ppm and
    * lift_ppm via floor-div of long products), so no float enters the
    * order; N (orders with ≥1 part) is a 1-row broadcast like tf_idf's
    * corpus stats. Support ≥ 3 prunes the pair table before the margin
    * joins; each unordered pair emits both directions AFTER the joins
    * (cheap column swap, not a second join).
    */
  private def assocRules(s: SparkSession, dir: String): DataFrame = {
    val pairsHof = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + lit(2),
          greatest(size(col("ps")) - i - lit(1), lit(0))),
        y => struct(x.as("part_a"), y.as("part_b")))))
    // cached: pair fan-out + margins + the order count (Q contract).
    // NULL orderkey is not an order: groupBy would count it as a basket
    // where the oracle's COUNT(DISTINCT) skips NULL -- n_orders (and so
    // every lift) diverged by one on hostile_relational
    val orderSets = t(s, dir, "lineitem")
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .cache()
    val nOrders = orderSets.agg(count(lit(1)).as("n_orders"))
    val pairCnt = orderSets
      .select(explode(pairsHof).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    val margins = orderSets
      .select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("c"))
    // cached: the two unionAll direction branches are distinct logical
    // subtrees — without this the pair/margin pipeline executes twice
    val joined = pairCnt
      .join(margins.select(col("part").as("part_a"), col("c").as("c_a")), "part_a")
      .join(margins.select(col("part").as("part_b"), col("c").as("c_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .cache()
    val directed = joined.select(
        col("part_a").as("antecedent"), col("part_b").as("consequent"),
        col("c_ab"), col("c_a").as("c_ante"), col("c_b").as("c_cons"),
        col("n_orders"))
      .unionAll(joined.select(
        col("part_b").as("antecedent"), col("part_a").as("consequent"),
        col("c_ab"), col("c_b").as("c_ante"), col("c_a").as("c_cons"),
        col("n_orders")))
    directed
      .withColumn("confidence_ppm", expr("(c_ab * 1000000L) div c_ante"))
      .withColumn("lift_ppm",
        expr("(c_ab * n_orders * 1000000L) div (c_ante * c_cons)"))
      .select(col("antecedent"), col("consequent"), col("c_ab"),
        col("confidence_ppm"), col("lift_ppm"))
      .orderBy(col("confidence_ppm").desc, col("antecedent"), col("consequent"))
      .limit(20)
  }

  private val assocRulesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey IS NOT NULL
      |), n AS (
      |  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
      |), pair_cnt AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |         CAST(COUNT(*) AS BIGINT) AS c_ab
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |), margins AS (
      |  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY 1
      |), joined AS (
      |  SELECT part_a, part_b, c_ab, ma.c AS c_a, mb.c AS c_b, n_orders
      |  FROM pair_cnt
      |  JOIN margins ma ON ma.part = part_a
      |  JOIN margins mb ON mb.part = part_b
      |  CROSS JOIN n
      |), directed AS (
      |  SELECT part_a AS antecedent, part_b AS consequent, c_ab,
      |         c_a AS c_ante, c_b AS c_cons, n_orders FROM joined
      |  UNION ALL
      |  SELECT part_b, part_a, c_ab, c_b, c_a, n_orders FROM joined
      |)
      |SELECT antecedent, consequent, c_ab,
      |  (c_ab * 1000000) // c_ante AS confidence_ppm,
      |  (c_ab * n_orders * 1000000) // (c_ante * c_cons) AS lift_ppm
      |FROM directed
      |ORDER BY confidence_ppm DESC, antecedent, consequent LIMIT 20""".stripMargin

  /** Frequent brand triples (market-basket itemsets of size 3): brand
    * triples co-occurring in an order, support ≥ 10, top 20 — the
    * association-rules step past pairwise co-purchase. Same scale shape as
    * copurchase_pairs: part is a broadcast dimension, the only wide shuffle
    * collects each order's distinct brand set, and the C(n,3) fan-out
    * happens in array HOFs inside codegen (n ≈ 4 brands/order, so ~4
    * triples per order — never corpus²). The sorted set makes b1<b2<b3
    * canonical, counting each co-occurrence once.
    */
  private def frequentTriples(s: SparkSession, dir: String): DataFrame = {
    // nested index-tracking slices: y ranges over elements after x (original
    // index i+1+j), z over elements after y — all three slice lengths are
    // clamped ≥ 0 so sub-3-element sets produce no descending-sequence forms
    val triples = flatten(transform(col("bs"), (x, i) =>
      flatten(transform(
        slice(col("bs"), i + lit(2),
          greatest(size(col("bs")) - i - lit(1), lit(0))), (y, j) =>
        transform(
          slice(col("bs"), i + j + lit(3),
            greatest(size(col("bs")) - i - j - lit(2), lit(0))),
          z => struct(x.as("b1"), y.as("b2"), z.as("b3")))))))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
      .select(explode(triples).as("tr"))
      .select(col("tr.b1"), col("tr.b2"), col("tr.b3"))
      .groupBy(col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 10)
      .orderBy(col("support").desc, col("b1"), col("b2"), col("b3"))
      .limit(20)
  }

  /** PageRank over the undirected co-purchase part graph (same edge
    * construction as copurchase_pairs, kept in both directions): 5 power
    * iterations at damping 0.85 in pure scaled-integer arithmetic — rank
    * is a 1e15-scaled long, the per-edge contribution is floor division
    * (Spark `div` ≡ DuckDB `//` for non-negative operands), so both
    * engines compute bit-identical ranks with zero float drift. Top 20
    * parts by final rank.
    *
    * Scale posture: per iteration one equi-join (pr ⋈ edges on src, a
    * key-partitioned shuffle) and one partial-aggregated groupBy(dst),
    * each iteration materialized (cache + count) so lineage stays flat —
    * the dedup_clusters lesson. N reaches the driver as a single count.
    * The oracle replays all 5 iterations via a recursive CTE.
    */
  private val PR_ITERS = 5
  private val PR_SCALE = 1000000000000000L // 1e15

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    // directed edge pairs straight from each order's distinct part set
    // (collect_set dedups inside the aggregate; the pair fan-out happens in
    // array HOFs) — one shuffle of lineitem instead of a DISTINCT shuffle
    // plus a self-join shuffle, same trick as copurchase_pairs
    val edges = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
      .cache()
    val nodes = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg")) // distinct-neighbor degree
      .select(col("src").as("node"), col("deg")).cache()
    val n = nodes.count() // one long to the driver
    val p0 = PR_SCALE / n
    val base = (15L * p0) / 100L
    // contribution only ever needs the SOURCE's degree → attach it to the
    // edge list once, so the loop is one join + one agg per iteration
    // instead of two joins — one shuffle fewer per iteration
    val edgesD = edges.join(nodes, col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg")).cache()
    edgesD.count()
    edges.unpersist()
    var pr = nodes.select(col("node"), lit(p0).as("pr")).cache()
    for (_ <- 1 to PR_ITERS) {
      val next = pr.join(edgesD, col("node") === col("src"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * cs) div 100")).as("pr"))
        .cache()
      next.count() // materialize this iteration before dropping the last
      pr.unpersist()
      pr = next
    }
    // TakeOrdered over the cached final iteration; edgesD/nodes caches are
    // released by the sweep's clearCache (the Q caching contract)
    pr.join(nodes, "node")
      .select(col("node"), col("deg"), col("pr").as("pr_scaled"))
      .orderBy(col("pr_scaled").desc, col("node")).limit(20)
  }

  private def pagerankSql: String =
    s"""WITH RECURSIVE li AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey
       |), degs AS (
       |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM degs
       |), pr AS (
       |  SELECT 0 AS it, node, deg,
       |         CAST($PR_SCALE // n AS BIGINT) AS pr
       |  FROM degs CROSS JOIN nn
       |  UNION ALL
       |  SELECT p.it + 1, d.node, d.deg,
       |         CAST((15 * ($PR_SCALE // n)) // 100
       |              + (85 * CAST(SUM(p.pr // p.deg) AS BIGINT)) // 100
       |              AS BIGINT)
       |  FROM pr p
       |  JOIN edges e ON p.node = e.src
       |  JOIN degs d ON e.dst = d.node
       |  CROSS JOIN nn
       |  WHERE p.it < $PR_ITERS
       |  GROUP BY p.it, d.node, d.deg, n
       |)
       |SELECT node, deg, pr AS pr_scaled FROM pr WHERE it = $PR_ITERS
       |ORDER BY pr_scaled DESC, node LIMIT 20""".stripMargin

  /** Bounded k-core peel of the SUPPORT-THRESHOLDED co-purchase graph:
    * keep only edges backed by ≥ 2 distinct orders (the raw graph's min
    * degree is 42 at sf0.01 — nothing would ever peel), then repeatedly
    * delete nodes whose degree within the surviving subgraph falls below
    * K = 3, for [[KCORE_ROUNDS]] rounds — a bounded-round contract, so
    * the oracle (an unrolled CTE chain, one per round) computes the
    * identical set without a deletion fixpoint that recursive CTEs cannot
    * express. The survivor sets are nested, so Spark stops at the first
    * round that keeps its count: every later round returns the same set.
    * At sf0.01 round 10 reaches the fixpoint (935 survivors) and round 11
    * confirms it, so the bounded result IS the true 3-core there. Output:
    * each surviving node with its within-core degree.
    *
    * Scale posture: each round is ONE semi-join of the (cached) edge list
    * against the current survivor set (dst side only) plus one
    * partial-aggregated count. Filtering only dst is not an approximation:
    * survivor sets are monotone decreasing, so a node peeled at round j
    * has < K surviving neighbors at every later round and can never
    * re-qualify — the src-side membership test is redundant (induction:
    * Sᵢ = {x : deg_{Sᵢ₋₁}(x) ≥ K} equals the textbook induced-subgraph
    * peel). The single reference per round matters structurally: with two
    * survivor references the logical plan DOUBLES per round (2¹² copies of
    * the edge subplan — a 2 GB plan string, observed), with one it grows
    * linearly like pagerank's. Each round is materialized (cache + count)
    * and its predecessor unpersisted so execution lineage stays flat.
    * Rounds are bounded by a constant: at most 12 shuffle stages,
    * independent of data volume.
    */
  private val KCORE_K = 3
  private val KCORE_ROUNDS = 12

  /** Co-purchase edges kept only when ≥ 2 distinct orders back the pair. */
  private def supportEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("src"), col("dst"))

  private def kcorePeel(s: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(s, dir).cache()
    var surv = edges.select(col("src").as("node")).distinct().cache()
    var (prev, n, round) = (-1L, surv.count(), 0)
    while (round < KCORE_ROUNDS && n != prev) { // an unchanged count is the fixpoint
      round += 1
      // rebase: without it each round's logical plan nests its
      // predecessor's and per-round Catalyst re-analysis dominates
      // (QOps.rebase scaladoc has the numbers)
      val next = graft.QOps.rebase(edges
        .join(surv.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KCORE_K)
        .select(col("src").as("node")))
        .cache()
      prev = n
      n = next.count() // materialize this round before dropping the last
      surv.unpersist()
      surv = next
    }
    edges
      .join(surv.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(surv.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).cast("long").as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
      .orderBy(col("node"))
  }

  private def kcorePeelSql: String = {
    // dst-only membership per round mirrors the Spark loop exactly; see
    // the monotonicity argument in the operator scaladoc
    val rounds = (1 to KCORE_ROUNDS).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT src AS node FROM e
         |  WHERE dst IN (SELECT node FROM s${i - 1})
         |  GROUP BY src HAVING COUNT(*) >= $KCORE_K
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), pairs AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2
       |), e AS MATERIALIZED (
       |  SELECT src, dst FROM pairs WHERE w >= 2
       |), s0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |), $rounds
       |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
       |FROM e
       |WHERE src IN (SELECT node FROM s$KCORE_ROUNDS)
       |  AND dst IN (SELECT node FROM s$KCORE_ROUNDS)
       |GROUP BY src ORDER BY node""".stripMargin
  }

  /** Harmonic centrality truncated at radius 2 over the support-≥2
    * co-purchase graph ([[supportEdges]]): h(x) = Σ_{y≠x} 1/d(x,y) with
    * the sum cut at distance 2 — the standard centrality for
    * disconnected graphs (Boldi & Vigna 2014, "Axioms for centrality"),
    * radius-bounded so the frontier is two equi-joins rather than an
    * all-pairs BFS. Exact integers throughout: h_milli = 1000·|N₁| +
    * 500·|N₂| where N₂ is the distance-EXACTLY-2 set (2-step reachable,
    * minus direct neighbors via anti-join, minus self).
    *
    * Scale posture: the 2-step expansion is the triangle-count class —
    * its row count is bounded by Σ deg², kept in check here by the
    * support threshold (hubs in the raw co-purchase graph have degree
    * 100+; support-≥2 median degree is 3). The distinct collapses
    * per-path multiplicity before the anti-join; every join is
    * key-partitioned.
    */
  private def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val e = supportEdges(s, dir).cache()
    val n1 = e.groupBy(col("src")).agg(count(lit(1)).as("n1"))
    val two = e.select(col("src"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst").as("d2")), Seq("mid"))
      .select(col("src"), col("d2")).distinct()
      .filter(col("src") =!= col("d2"))
      .join(e.withColumnRenamed("dst", "d2"), Seq("src", "d2"), "left_anti")
    val n2 = two.groupBy(col("src")).agg(count(lit(1)).as("n2"))
    n1.join(n2, Seq("src"), "left_outer")
      .select(col("src").as("node"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .withColumn("h_milli", (col("n1") * 1000 + col("n2") * 500).cast("long"))
      .orderBy(col("node"))
  }

  private def harmonicCentralitySql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pairs AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT src, dst FROM pairs WHERE w >= 2
      |), n1t AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n1 FROM e GROUP BY 1
      |), reach2 AS (
      |  SELECT DISTINCT a.src, b.dst AS d2
      |  FROM e a JOIN e b ON a.dst = b.src
      |  WHERE a.src <> b.dst
      |), two AS (
      |  SELECT r.src, r.d2 FROM reach2 r
      |  WHERE NOT EXISTS (SELECT 1 FROM e
      |                    WHERE e.src = r.src AND e.dst = r.d2)
      |), n2t AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n2 FROM two GROUP BY 1
      |)
      |SELECT n1t.src AS node, n1, COALESCE(n2, 0) AS n2,
      |  CAST(n1 * 1000 + COALESCE(n2, 0) * 500 AS BIGINT) AS h_milli
      |FROM n1t LEFT JOIN n2t ON n1t.src = n2t.src
      |ORDER BY node""".stripMargin

  /** Link prediction by common neighbors + Adamic-Adar over the support-≥2
    * co-purchase graph: for every NON-adjacent pair at distance 2, count
    * shared neighbors and sum 1/ln(deg(mid)) over the shared mids
    * (Adamic & Adar 2003 — rare shared neighbors say more than hubs); top
    * 50 candidate edges. A 2-path middle necessarily has degree ≥ 2, so
    * ln(deg) is never 0 — no guard needed, by construction. The AA term is
    * milli-quantized per MID (round(ln,3) house pattern) and summed as
    * longs, so the ranking is exact integer arithmetic.
    *
    * Scale posture: the path join is Σdeg²-bounded like
    * [[harmonicCentrality]]; the per-mid inverse-log table is node-sized
    * (broadcast at bench SF — swap to a plain equi-join at corpus scale);
    * the candidate anti-join is an equi-join on the pair key.
    */
  private def linkPredictionCn(s: SparkSession, dir: String): DataFrame = {
    val e = supportEdges(s, dir).cache()
    // deg ≥ 2 BEFORE the division: a degree-1 node can never be a 2-path
    // middle, but ANSI mode aborts on its 1/ln(1) row in the deg table
    // long before the join would have dropped it
    val inv = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("src").as("mid"),
        round(round(lit(1.0) / log(col("deg")), 3) * 1000).cast("long")
          .as("inv_ln_milli"))
    e.select(col("src").as("u"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst").as("v")), Seq("mid"))
      .filter(col("u") < col("v"))
      .join(e.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .join(broadcast(inv), Seq("mid"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("cn"),
        sum(col("inv_ln_milli")).cast("long").as("aa_milli"))
      .orderBy(col("cn").desc, col("aa_milli").desc, col("u"), col("v"))
      .limit(50)
  }

  private def linkPredictionCnSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pairs AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2
      |), e AS (
      |  SELECT src, dst FROM pairs WHERE w >= 2
      |), inv AS (
      |  SELECT src AS mid,
      |    CAST(ROUND(ROUND(1.0 / ln(COUNT(*)), 3) * 1000) AS BIGINT)
      |      AS inv_ln_milli
      |  FROM e GROUP BY src HAVING COUNT(*) >= 2
      |), cand AS (
      |  SELECT a.src AS u, a.dst AS mid, b.dst AS v
      |  FROM e a JOIN e b ON a.dst = b.src
      |  WHERE a.src < b.dst
      |    AND NOT EXISTS (SELECT 1 FROM e
      |                    WHERE e.src = a.src AND e.dst = b.dst)
      |)
      |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
      |  CAST(SUM(inv_ln_milli) AS BIGINT) AS aa_milli
      |FROM cand JOIN inv USING (mid)
      |GROUP BY u, v
      |ORDER BY cn DESC, aa_milli DESC, u, v LIMIT 50""".stripMargin

  /** Degree distribution of the co-purchase part graph — the first plot of
    * any graph workload (is this power-law? where does the hub tail
    * start?), and the pre-flight check before degree-sensitive algorithms
    * (triangle counting's Σdeg² bound, LPA's argmax width). Distinct
    * edge list → per-node degree → degree histogram: three hash
    * aggregates, histogram domain bounded by the max degree.
    */
  private def degreeDistribution(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
    edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy(col("degree"))
  }

  private val degreeDistributionSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey
      |), deg AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY 1
      |)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin

  /** HITS hubs & authorities over the BIPARTITE customer→part purchase
    * graph (directed, unlike [[pagerank]]'s undirected co-purchase graph):
    * hub score for buyers, authority for parts, 2 mutual-reinforcement
    * rounds from auth₀ = 1 — hub₁ = degree, auth₁ = Σ buyer degrees,
    * hub₂ = Σ auth₁, auth₂ = Σ hub₂ — all in EXACT integer arithmetic on
    * the DECIMAL(38,0)/HUGEINT carrier (unnormalized iterates grow like
    * (Σdeg)^k, well inside 1e38 for k=2 at any real scale; normalizing
    * once at the end by max-authority floor-division keeps every engine
    * bit-identical, where per-round float normalization would drift).
    * The ppm scaling multiplies the iterate by a further 1e6, so the real
    * headroom bound is a2 ≤ 1e32 (a2·1e6 ≤ 1e38): on overflow non-ANSI
    * Spark would silently NULL while DuckDB's 128-bit HUGEINT keeps
    * computing — a silent cross-engine divergence — so the guard below
    * raises loudly if max-authority ever exceeds 1e32 instead.
    * Each round is one equi-join + one partial-aggregated groupBy; the
    * only driver value is the 1-row max broadcast. Top 20 authorities.
    */
  private def hitsScores(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast(DecimalType(38, 0))
    val edges = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p")).distinct()
      .cache()
    val hub1 = edges.groupBy(col("u")).agg(count(lit(1)).cast("long").as("h1"))
    val auth1 = edges.join(hub1, "u")
      .groupBy(col("p")).agg(sum(col("h1")).cast("long").as("a1"))
    val hub2 = edges.join(auth1, "p")
      .groupBy(col("u")).agg(sum(d38(col("a1"))).as("h2"))
    val auth2 = edges.join(hub2, "u")
      .groupBy(col("p")).agg(sum(col("h2")).as("a2"),
        count(lit(1)).cast("long").as("n_buyers"))
    val maxA = auth2.agg(max(col("a2")).as("ma"))
    auth2.crossJoin(broadcast(maxA))
      .select(col("p").as("part"), col("n_buyers"),
        expr("""CAST(CASE WHEN ma > CAST(1e32 AS DECIMAL(38,0))
          THEN CAST(raise_error(
            'hits_scores: auth iterate exceeds DECIMAL(38,0) ppm headroom')
            AS DECIMAL(38,0))
          ELSE (a2 * 1000000) div ma END AS BIGINT)""").as("auth_ppm"),
        col("a2").cast("double").as("auth_score"))
      .orderBy(col("auth_ppm").desc, col("part")).limit(20)
  }

  private val hitsScoresSql: String =
    """WITH edges AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS p
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), hub1 AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS h1 FROM edges GROUP BY 1
      |), auth1 AS (
      |  SELECT e.p, CAST(SUM(h.h1) AS BIGINT) AS a1
      |  FROM edges e JOIN hub1 h ON e.u = h.u GROUP BY 1
      |), hub2 AS (
      |  SELECT e.u, SUM(CAST(a.a1 AS HUGEINT)) AS h2
      |  FROM edges e JOIN auth1 a ON e.p = a.p GROUP BY 1
      |), auth2 AS (
      |  SELECT e.p, SUM(h.h2) AS a2, CAST(COUNT(*) AS BIGINT) AS n_buyers
      |  FROM edges e JOIN hub2 h ON e.u = h.u GROUP BY 1
      |), ma AS (SELECT MAX(a2) AS ma FROM auth2)
      |SELECT p AS part, n_buyers,
      |  CAST((a2 * 1000000) // ma AS BIGINT) AS auth_ppm,
      |  CAST(CAST(a2 AS STRING) AS DOUBLE) AS auth_score
      |FROM auth2 CROSS JOIN ma
      |ORDER BY auth_ppm DESC, part LIMIT 20""".stripMargin

  /** Recommender offline evaluation — precision@1 of "customers also
    * bought" co-occurrence recommendations against held-out baskets: train
    * on the md5-deterministic 80% of orders (pair counts over per-order
    * distinct part sets), recommend each part's top co-part (count desc,
    * lowest id), then for every part in a held-out basket score a hit iff
    * its recommendation is ALSO in that basket. The eval loop every recsys
    * team runs before an A/B test, expressed as three hash aggregates and
    * two equi-joins; ranking stays integer so the metric is exact.
    */
  private def recsysPrecisionEval(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(5L))
    val baskets = t(s, dir, "lineitem")
      // explicit: a NULL orderkey has no md5 bucket. Spark would drop it
      // anyway (NULL is_test fails both filters) but DuckDB's concat
      // treats NULL as '' and aborts casting '0x' -- hostile_relational
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .withColumn("is_test", bucket === 0L)
      .cache()
    val train = baskets.filter(!col("is_test"))
    val pairs = train.as("a").join(train.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p"), col("b.l_partkey").as("q"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("p")).orderBy(col("c").desc, col("q"))
    val recs = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p"), col("q").as("rec"))
    val test = baskets.filter(col("is_test"))
      .select(col("l_orderkey"), col("l_partkey"))
    val scored = test.join(recs, test("l_partkey") === recs("p"))
      .select(col("l_orderkey"), col("l_partkey"), col("rec"))
      .join(test.select(col("l_orderkey"), col("l_partkey").as("rec"))
          .withColumn("hit", lit(1L)),
        Seq("l_orderkey", "rec"), "left")
    scored.agg(
      countDistinct(col("l_orderkey")).cast("long").as("n_test_baskets"),
      count(lit(1)).cast("long").as("n_evaluable"),
      sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("precision_at_1",
        col("n_hits").cast("double") / col("n_evaluable").cast("double"))
  }

  private val recsysPrecisionEvalSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey, l_partkey,
      |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |         AS BIGINT) % 5 = 0 AS is_test
      |  FROM lineitem WHERE l_orderkey IS NOT NULL
      |), train AS (
      |  SELECT l_orderkey, l_partkey FROM baskets WHERE NOT is_test
      |), pairs AS (
      |  SELECT a.l_partkey AS p, b.l_partkey AS q,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM train a JOIN train b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2
      |), recs AS (
      |  SELECT p, q AS rec FROM (
      |    SELECT p, q, ROW_NUMBER() OVER (PARTITION BY p
      |                                    ORDER BY c DESC, q) AS rn
      |    FROM pairs)
      |  WHERE rn = 1
      |), test AS (
      |  SELECT l_orderkey, l_partkey FROM baskets WHERE is_test
      |), scored AS (
      |  SELECT t.l_orderkey, t.l_partkey, r.rec,
      |    CASE WHEN h.l_partkey IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM test t
      |  JOIN recs r ON t.l_partkey = r.p
      |  LEFT JOIN test h ON h.l_orderkey = t.l_orderkey
      |                  AND h.l_partkey = r.rec
      |)
      |SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_test_baskets,
      |  CAST(COUNT(*) AS BIGINT) AS n_evaluable,
      |  CAST(SUM(hit) AS BIGINT) AS n_hits,
      |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS precision_at_1
      |FROM scored""".stripMargin

  /** Recommender ranking quality — NDCG@3 of the co-occurrence recommender
    * over the same md5-deterministic train/held-out split as
    * [[recsysPrecisionEval]] (which only scores the top-1 hit; NDCG grades
    * the whole ranked list with graded position discounts). Per test
    * (basket, part): top-3 co-parts ranked (count desc, id asc), binary
    * relevance = "rec is in the basket", DCG = Σ hit_i · w_i with the
    * 1/log2(i+1) discounts PRE-QUANTIZED to the micro literals
    * {1000000, 630930, 500000} (libm log2 is not correctly rounded across
    * engines — baking the three constants removes the only inexact
    * ingredient), IDCG from the capped relevant count, and per-pair NDCG
    * quantized before the order-free long sum. Three hash joins + two hash
    * aggregates; ranking state is bounded by rn ≤ 3 pre-shuffle.
    */
  private def recsysNdcgEval(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(5L))
    val baskets = t(s, dir, "lineitem")
      // explicit: a NULL orderkey has no md5 bucket. Spark would drop it
      // anyway (NULL is_test fails both filters) but DuckDB's concat
      // treats NULL as '' and aborts casting '0x' -- hostile_relational
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .withColumn("is_test", bucket === 0L)
      .cache()
    val train = baskets.filter(!col("is_test"))
    val pairs = train.as("a").join(train.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p"), col("b.l_partkey").as("q"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("p")).orderBy(col("c").desc, col("q"))
    val recs = pairs.withColumn("i", row_number().over(w))
      .filter(col("i") <= 3)
      .select(col("p"), col("q").as("rec"), col("i"))
    val test = baskets.filter(col("is_test"))
      .select(col("l_orderkey"), col("l_partkey"))
    val sizes = test.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("bsz"))
    val wI = when(col("i") === 1, 1000000L)
      .when(col("i") === 2, 630930L).otherwise(500000L)
    val perPair = test.join(recs, test("l_partkey") === recs("p"))
      .select(col("l_orderkey"), col("l_partkey"), col("rec"), col("i"))
      .join(test.select(col("l_orderkey"), col("l_partkey").as("rec"))
          .withColumn("hit", lit(1L)),
        Seq("l_orderkey", "rec"), "left")
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum(coalesce(col("hit"), lit(0L)) * wI).cast("long").as("dcg_micro"))
      .join(sizes, "l_orderkey")
      .withColumn("r", least(col("bsz") - 1L, lit(3L)))
      .filter(col("r") >= 1L)
      .withColumn("idcg_micro",
        when(col("r") === 1, 1000000L).when(col("r") === 2, 1630930L)
          .otherwise(2130930L))
      .withColumn("ndcg_micro",
        round(col("dcg_micro").cast("double") /
          col("idcg_micro").cast("double") * 1e6).cast("long"))
    perPair.agg(
      countDistinct(col("l_orderkey")).cast("long").as("n_test_baskets"),
      count(lit(1)).cast("long").as("n_evaluable"),
      sum(col("ndcg_micro")).cast("long").as("sum_ndcg_micro"))
      .withColumn("mean_ndcg",
        col("sum_ndcg_micro").cast("double") /
          col("n_evaluable").cast("double") / 1e6)
  }

  private val recsysNdcgEvalSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey, l_partkey,
      |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |         AS BIGINT) % 5 = 0 AS is_test
      |  FROM lineitem WHERE l_orderkey IS NOT NULL
      |), train AS (
      |  SELECT l_orderkey, l_partkey FROM baskets WHERE NOT is_test
      |), pairs AS (
      |  SELECT a.l_partkey AS p, b.l_partkey AS q,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM train a JOIN train b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2
      |), recs AS (
      |  SELECT p, q AS rec, i FROM (
      |    SELECT p, q, ROW_NUMBER() OVER (PARTITION BY p
      |                                    ORDER BY c DESC, q) AS i
      |    FROM pairs)
      |  WHERE i <= 3
      |), test AS (
      |  SELECT l_orderkey, l_partkey FROM baskets WHERE is_test
      |), sizes AS (
      |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS bsz
      |  FROM test GROUP BY 1
      |), per_pair AS (
      |  SELECT t.l_orderkey, t.l_partkey,
      |    CAST(SUM((CASE WHEN h.l_partkey IS NOT NULL THEN 1 ELSE 0 END) *
      |      (CASE r.i WHEN 1 THEN 1000000 WHEN 2 THEN 630930
      |                ELSE 500000 END)) AS BIGINT) AS dcg_micro
      |  FROM test t
      |  JOIN recs r ON t.l_partkey = r.p
      |  LEFT JOIN test h ON h.l_orderkey = t.l_orderkey
      |                  AND h.l_partkey = r.rec
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT p.l_orderkey, p.l_partkey, p.dcg_micro,
      |    CASE LEAST(s.bsz - 1, 3) WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
      |         ELSE 2130930 END AS idcg_micro
      |  FROM per_pair p JOIN sizes s ON p.l_orderkey = s.l_orderkey
      |  WHERE s.bsz >= 2
      |)
      |SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_test_baskets,
      |  CAST(COUNT(*) AS BIGINT) AS n_evaluable,
      |  CAST(SUM(CAST(ROUND(CAST(dcg_micro AS DOUBLE) /
      |    CAST(idcg_micro AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT)
      |    AS sum_ndcg_micro,
      |  CAST(SUM(CAST(ROUND(CAST(dcg_micro AS DOUBLE) /
      |    CAST(idcg_micro AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) / 1e6 AS mean_ndcg
      |FROM scored""".stripMargin

  /** Community detection by synchronous label propagation (2 rounds) over
    * the undirected co-purchase part graph: every node starts as its own
    * label; each round it adopts the MODAL label among its neighbors
    * (count desc, then lowest label — fully deterministic, unlike classic
    * async LPA). Two fixed rounds keep the oracle an unrolled replay;
    * unlike [[graft.operators.DedupOps]]'s connected components (min-label
    * to fixpoint) this finds dense communities, not mere reachability.
    *
    * Scale posture: each round is ONE equi-join of the edge list against
    * the label table plus two hash aggregates (label counts, then per-node
    * argmax via a window bounded by the node's distinct neighbor-label
    * count ≤ degree) — the GraphFrames/Pregel LPA step expressed
    * relationally, each round materialized to keep the lineage flat.
    */
  /** Shared 2-round LPA chain: (cached distinct symmetric edge list,
    * cached node→label assignment) — consumed by [[labelPropagation]] and
    * [[modularityScore]]. */
  private def lpChain(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val edges = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
      .cache()
    val nodes = edges.select(col("src").as("node")).distinct()
    var lab = nodes.select(col("node"), col("node").as("lab")).cache()
    for (_ <- 1 to 2) {
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("c").desc, col("lab"))
      val next = edges.join(lab, col("src") === col("node"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("lab"))
        .cache()
      next.count() // materialize this round before dropping the last
      lab.unpersist()
      lab = next
    }
    (edges, lab)
  }

  private def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val (_, lab) = lpChain(s, dir)
    val sizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("n_members"))
    lab.join(sizes, "lab")
      .select(col("node"), col("lab").as("community"), col("n_members"))
      .orderBy(col("node"))
  }

  /** The 2-round LPA CTE chain (li → edges → l0 → r1 → r2), shared by the
    * label_propagation and modularity_score oracles. MATERIALIZED hints:
    * DuckDB inlines CTEs by default, so `edges` (the co-purchase self-join,
    * the expensive node) would be recomputed at every reference —
    * modularity_score references it four times (e/deg/intra plus the LPA
    * rounds) and blew the 16 GiB spill cap at native sf1.0; materializing
    * li/edges and each LPA round keeps it to one spill-bounded build. */
  private val lpCtes: String =
    """li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), edges AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey
      |), l0 AS MATERIALIZED (
      |  SELECT DISTINCT src AS node, src AS lab FROM edges
      |), r1 AS MATERIALIZED (
      |  SELECT dst AS node, lab FROM (
      |    SELECT e.dst, l.lab, COUNT(*) AS c,
      |      ROW_NUMBER() OVER (PARTITION BY e.dst
      |                         ORDER BY COUNT(*) DESC, l.lab) AS rn
      |    FROM edges e JOIN l0 l ON e.src = l.node
      |    GROUP BY e.dst, l.lab)
      |  WHERE rn = 1
      |), r2 AS MATERIALIZED (
      |  SELECT dst AS node, lab FROM (
      |    SELECT e.dst, l.lab, COUNT(*) AS c,
      |      ROW_NUMBER() OVER (PARTITION BY e.dst
      |                         ORDER BY COUNT(*) DESC, l.lab) AS rn
      |    FROM edges e JOIN r1 l ON e.src = l.node
      |    GROUP BY e.dst, l.lab)
      |  WHERE rn = 1
      |)""".stripMargin

  private val labelPropagationSql: String =
    s"""WITH $lpCtes,
      |sizes AS (
      |  SELECT lab, CAST(COUNT(*) AS BIGINT) AS n_members FROM r2 GROUP BY 1
      |)
      |SELECT r2.node, r2.lab AS community, sizes.n_members
      |FROM r2 JOIN sizes ON r2.lab = sizes.lab
      |ORDER BY r2.node""".stripMargin

  /** Newman modularity of the LPA communities over the same undirected
    * co-purchase graph — the standard "did the community detection find
    * real structure" score (Q > 0: denser inside communities than a random
    * degree-preserving rewiring). With E the DIRECTED edge count (= 2m),
    * I_c the directed intra-community edge count and d_c the community's
    * degree sum, Q = Σ_c [I_c·E − d_c²] / E² — evaluated as exact integers
    * in a DECIMAL(38,0) carrier (d_c² reaches E² ≈ 4e18 already at ~1e9
    * directed edges, past BIGINT) with ONE integral division to ppm.
    *
    * Scale posture: reuses the LPA chain (each round one equi-join + two
    * hash aggregates); the additional passes are two equi-joins of the edge
    * list against the broadcast-sized label table aggregate — no new
    * shuffle class, and the 1-row E aggregate is a broadcast cross join.
    */
  private def modularityScore(s: SparkSession, dir: String): DataFrame = {
    val (edges, lab) = lpChain(s, dir)
    val e = edges.agg(count(lit(1)).cast("long").as("e_directed"))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("d"))
    val labN = lab.select(col("node"), col("lab"))
    val intra = edges
      .join(labN.select(col("node").as("src"), col("lab").as("ls")), "src")
      .join(labN.select(col("node").as("dst"), col("lab").as("ld")), "dst")
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("community"))
      .agg(count(lit(1)).cast("long").as("i_c"))
    val dc = deg.join(labN, "node")
      .groupBy(col("lab").as("community"))
      .agg(sum(col("d")).cast("long").as("d_c"))
    dc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(e))
      .select(col("community"),
        coalesce(col("i_c"), lit(0L)).as("i_c"), col("d_c"), col("e_directed"))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        sum(col("d_c")).cast("long").as("sum_deg"),
        max(col("e_directed")).as("e_directed"),
        sum(col("i_c").cast(DecimalType(38, 0)) * col("e_directed") -
          col("d_c").cast(DecimalType(38, 0)) * col("d_c")).as("num"))
      .select(col("n_communities"), col("sum_deg"), col("e_directed"),
        when(col("e_directed") > 0,
          expr("(num * 1000000) div (CAST(e_directed AS DECIMAL(38,0)) * e_directed)"))
          .as("q_ppm"))
      .withColumn("modularity", col("q_ppm").cast("double") / 1e6)
  }

  private val modularityScoreSql: String =
    s"""WITH $lpCtes,
      |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS e_directed FROM edges),
      |deg AS (
      |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM edges GROUP BY 1
      |), intra AS (
      |  SELECT ls.lab AS community, CAST(COUNT(*) AS BIGINT) AS i_c
      |  FROM edges ed
      |  JOIN r2 ls ON ed.src = ls.node
      |  JOIN r2 ld ON ed.dst = ld.node
      |  WHERE ls.lab = ld.lab
      |  GROUP BY 1
      |), dc AS (
      |  SELECT l.lab AS community, CAST(SUM(d.d) AS BIGINT) AS d_c
      |  FROM deg d JOIN r2 l ON d.node = l.node
      |  GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
      |    CAST(SUM(d.d_c) AS BIGINT) AS sum_deg,
      |    MAX(e.e_directed) AS e_directed,
      |    SUM(CAST(COALESCE(i.i_c, 0) AS HUGEINT) * e.e_directed -
      |        CAST(d.d_c AS HUGEINT) * d.d_c) AS num
      |  FROM dc d LEFT JOIN intra i ON d.community = i.community
      |  CROSS JOIN e
      |)
      |SELECT n_communities, sum_deg, e_directed,
      |  CAST(CASE WHEN e_directed > 0
      |       THEN (num * 1000000) // (CAST(e_directed AS HUGEINT) * e_directed)
      |       END AS BIGINT) AS q_ppm,
      |  CAST(CAST(CASE WHEN e_directed > 0
      |       THEN (num * 1000000) // (CAST(e_directed AS HUGEINT) * e_directed)
      |       END AS BIGINT) AS DOUBLE) / 1e6 AS modularity
      |FROM m""".stripMargin

  /** Multi-hop BFS shortest-path distances from a seed node over the
    * undirected co-purchase part graph (same distinct edge list as
    * [[pagerank]]) — the "how far is everything from X" graph primitive
    * (blast radius, reachability tiers). Level-synchronous frontier
    * expansion to depth 4: each level is ONE equi-join (frontier ⋈ edges on
    * src) + distinct + an anti-join against the visited set, materialized
    * before the next level (the dedup_clusters lesson — lineage stays flat,
    * any diameter). BFS levels are minimal distances by construction, so
    * no min-aggregation pass is needed. The seed (min part key in the edge
    * set) reaches the driver as a single long, like pagerank's node count;
    * the oracle replays the expansion as a recursive CTE with a MIN(d)
    * rollup.
    */
  private val BFS_DEPTH = 4

  private def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), x =>
        transform(filter(col("ps"), y => y =!= x),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
      .cache()
    val seed = edges.agg(min(col("src"))).head.getLong(0) // one long
    var dist = edges.sparkSession.range(1)
      .select(lit(seed).as("node"), lit(0L).as("dist")).cache()
    var frontier = dist.select(col("node"))
    for (d <- 1 to BFS_DEPTH) {
      val nxt = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(d.toLong))
        .cache()
      nxt.count() // materialize this level before extending lineage
      val merged = dist.union(nxt).cache()
      merged.count()
      dist.unpersist()
      dist = merged
      frontier = nxt.select(col("node"))
    }
    dist.orderBy(col("node"))
  }

  private def bfsHopsSql: String =
    s"""WITH RECURSIVE li AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey
       |), r AS (
       |  SELECT (SELECT MIN(src) FROM edges) AS node, 0 AS d
       |  UNION
       |  SELECT e.dst, r.d + 1
       |  FROM r JOIN edges e ON e.src = r.node
       |  WHERE r.d < $BFS_DEPTH
       |)
       |SELECT node, CAST(MIN(d) AS BIGINT) AS dist
       |FROM r GROUP BY node ORDER BY node""".stripMargin

  /** Month-over-month revenue: decimal-exact monthly totals + lag-based
    * percent change (round(·,3) absorbs the one cross-engine division
    * difference — none in practice, but the pattern is the safe one).
    */
  private def monthlyRevenueMom(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_pct",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100.0, 3))
      .orderBy(col("month"))
  }

  /** Percent-of-parent hierarchical rollup: per-nation revenue with its
    * share of the region and of the grand total — the drill-down readout
    * (region → nation) every BI hierarchy renders. Exact cents end to end:
    * the region subtotal is a window over the ≤ |nations|-row aggregate
    * PARTITIONED by region (never unpartitioned), the grand total a 1-row
    * broadcast, and each share ONE IEEE division. Dims broadcast into the
    * single lineitem shuffle.
    */
  private def percentOfParent(s: SparkSession, dir: String): DataFrame = {
    val perNation = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val grand = perNation.agg(sum(col("cents")).as("global_cents"))
    perNation
      .withColumn("region_cents",
        sum(col("cents")).over(Window.partitionBy(col("r_name"))))
      .crossJoin(broadcast(grand))
      .select(col("r_name"), col("n_name"), col("cents"), col("region_cents"),
        (col("cents").cast("double") / col("region_cents").cast("double"))
          .as("share_of_region"),
        (col("cents").cast("double") / col("global_cents").cast("double"))
          .as("share_of_global"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val percentOfParentSql: String =
    """WITH per_nation AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2
      |), g AS (SELECT CAST(SUM(cents) AS BIGINT) AS global_cents FROM per_nation)
      |SELECT r_name, n_name, cents,
      |  CAST(SUM(cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
      |  CAST(cents AS DOUBLE)
      |    / CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE)
      |    AS share_of_region,
      |  CAST(cents AS DOUBLE) / CAST(global_cents AS DOUBLE) AS share_of_global
      |FROM per_nation, g
      |ORDER BY r_name, n_name""".stripMargin

  /** Pareto (80/20) analysis: suppliers ranked by revenue with cumulative
    * share — running cents over the ranked order divided by the total,
    * both exact longs. The curve behind "which 20% of suppliers carry 80%
    * of revenue"; flags the suppliers inside the 80% head. Rank, running
    * sum, and total all come from the two-level prefix sum in [[PrefixOps]]
    * — the supplier domain is never sorted on a single reducer.
    */
  private def supplierPareto(s: SparkSession, dir: String): DataFrame = {
    val perSupp = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    PrefixOps.withGlobalPrefix(perSupp, -col("cents"),
        Seq(col("cents").desc, col("l_suppkey")), sums = Seq("cents"))
      .select(col("g_rank").as("rk"), col("l_suppkey"), col("cents"),
        (col("g_run_cents").cast("double") / col("g_tot_cents")).as("cum_share"),
        (col("g_run_cents").cast("double") / col("g_tot_cents") <= 0.8)
          .cast("long").as("in_head_80"))
      .orderBy(col("rk"))
  }

  /** 2-D skyline (pareto front): parts not dominated on (price low, size
    * high) — the multi-objective shortlist query. Never the n² dominance
    * test: the domain first compresses to max-size-per-distinct-price (one
    * hash aggregate — a same-price part below that max is dominated by the
    * max), then skyline membership is a strict-prefix max over the ~|distinct
    * prices| compressed rows (allowlisted unpartitioned window over a
    * pre-aggregated domain, like monthly_revenue_mom), and the surviving
    * skyline points broadcast back against part. The oracle proves
    * equivalence to the quadratic NOT EXISTS dominance definition.
    */
  private def skylineParts(s: SparkSession, dir: String): DataFrame = {
    // explicit: a part with NULL price/size has no dominance position.
    // Spark drops it anyway (NULL join key / NULL max-filter) but DuckDB's
    // NOT EXISTS is vacuously TRUE for it (every comparison in the subquery
    // is NULL) and admits it to the skyline -- hostile_relational
    val attributed = t(s, dir, "part")
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
    val perPrice = attributed
      .select(round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size"))
      .groupBy(col("cents")).agg(max(col("p_size")).as("smax"))
    val strictlyCheaper = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = perPrice
      .withColumn("prevmax", max(col("smax")).over(strictlyCheaper))
      .filter(col("prevmax").isNull || col("prevmax") < col("smax"))
      .select(col("cents"), col("smax"))
    attributed
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size"))
      .join(broadcast(sky), Seq("cents"))
      .filter(col("p_size") === col("smax"))
      .select(col("p_partkey"), col("cents"), col("p_size"))
      .orderBy(col("cents"), col("p_partkey"))
  }

  /** RFM segmentation: per customer, recency (days since last order),
    * frequency (order count), monetary (cents total), each cut into exact
    * ntile quartiles over a total order — the classic 3-digit RFM segment
    * code, fully deterministic. Each quartile is assigned from a two-level
    * global rank ([[PrefixOps]]) plus ntile arithmetic, so the customer
    * domain — billions of rows at 100 TB — is never globally sorted on one
    * reducer (the old `ntile(4).over(Window.orderBy(...))` shape, ×3).
    */
  private def customerRfm(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
      .withColumn("recency_days",
        datediff(lit("1999-01-01").cast("date"), col("last_order").cast("date"))
          .cast("long"))
    def quartile(df: DataFrame, bucketBy: org.apache.spark.sql.Column,
        order: Seq[org.apache.spark.sql.Column], as: String): DataFrame =
      PrefixOps.withGlobalPrefix(df, bucketBy, order)
        .withColumn(as, PrefixOps.ntileFromRank(col("g_rank"), col("g_n"), 4))
        .drop("g_rank", "g_n")
    val withR = quartile(perCust,
      col("recency_days"), Seq(col("recency_days"), col("o_custkey")), "r_q")
    val withF = quartile(withR,
      -col("frequency"), Seq(col("frequency").desc, col("o_custkey")), "f_q")
    val withM = quartile(withF,
      -col("monetary_cents"), Seq(col("monetary_cents").desc, col("o_custkey")), "m_q")
    withM.select(
      col("o_custkey"), col("recency_days"), col("frequency"), col("monetary_cents"),
      col("r_q"), col("f_q"), col("m_q"))
      .withColumn("rfm_segment",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy(col("o_custkey"))
  }

  // ---- unpivot ------------------------------------------------------------

  /** UNPIVOT (melt): lineitem's four money measures to (measure, value)
    * rows — the inverse of `pivot_user_events`, via the native `unpivot`
    * operator (plans as Expand: one pass, no join, 4× rows). Values are
    * cents-quantized so the long output column hashes exactly.
    */
  private def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("extendedprice"),
        round(col("l_discount") * 100).cast("long").as("discount"),
        round(col("l_tax") * 100).cast("long").as("tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "measure", "cents")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  // ---- JSON extraction ----------------------------------------------------

  /** get_json_object over events.props (≈ the reference's opaque Kafka value
    * given structure — SURVEY.md §1.3 north-star MapType/JSON note).
    * try_cast, not cast: $.k may be a non-scalar (nested object) or the
    * props cell malformed JSON — under ANSI mode a plain cast ABORTS the
    * query on one bad row (hostile_events caught this); both engines
    * treat unparseable as NULL, which the aggregates then skip. */
  private def jsonPropsStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy(col("event_type"))
      .agg(
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  // ---- adapted TPC-H (q4/q9/q13/q15/q16/q17/q21/q22) ----------------------
  // The synthetic schema has no partsupp table and no commitdate/receiptdate/
  // shipmode/phone/container columns, so these keep the official query
  // SHAPES (exists/not-exists semi-joins, left-outer count distribution,
  // view-max equality join, correlated per-part average) re-keyed onto the
  // columns that do exist; each deviation is noted on the operator.

  /** Q4 analog: priority count of orders with a late shipment — l_shipdate
    * more than 90 days after o_orderdate stands in for the missing
    * commitdate<receiptdate pair. The EXISTS is a left-semi join on
    * o_orderkey with the correlated date comparison as a residual
    * condition, so it shuffles once on the order key and never widens. */
  private def q4PriorityCount(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q9 analog: profit by supplier nation and order year. With no
    * ps_supplycost the unit cost is proxied as half the part's retail
    * price; the 5-way join with a part-name pattern filter, the signed
    * per-row amount, and the nation×year rollup are the official shape.
    * part/supplier/nation broadcast (dims), orders joins on the fact key. */
  private def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.5) * col("p_retailprice") * col("l_quantity")
    t(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(amount).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q13 analog: distribution of per-customer order counts. The
    * priority-exclusion filter rides the left-outer join condition exactly
    * as the official comment-pattern filter does, so customers whose only
    * orders are urgent still appear with c_count = 0. */
  private def q13OrderDistribution(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q15 analog: supplier(s) achieving the maximum quarterly revenue.
    * Revenue accumulates in exact integer cents so the max-equality join
    * cannot be broken by float summation order on either engine; the
    * per-supplier revenue view is cached because both the max row and the
    * equality join consume it (the Q caching contract). */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast("long")).as("rev_cents"))
      .cache()
    val top = rev.agg(max(col("rev_cents")).as("max_cents"))
    rev.join(broadcast(top), col("rev_cents") === col("max_cents"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_cents").cast("double") / 100.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Q16 analog: distinct-supplier counts per (brand, type, size). The
    * part-supplier relation is derived as DISTINCT (l_partkey, l_suppkey)
    * from lineitem (no partsupp table) and negative-balance suppliers stand
    * in for the official complaint-pattern exclusion. The distinct is the
    * one fact shuffle; part and the exclusion set broadcast. */
  private def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val badSupp = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
    val parts = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q17 analog: revenue lost to small-quantity orders of MEDIUM Brand#2
    * parts. The correlated per-part average is a whole-partition window
    * over the part-filtered slice (the filter is BY PART, so the slice
    * still carries every lineitem of each surviving part), and the
    * 20%-of-average predicate is evaluated in exact integer cents on both
    * engines: qty < 0.2·avg  ⇔  5·qty·n < Σqty. */
  private def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#2" && col("p_type") === "MEDIUM")
      .select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .withColumn("qc", round(col("l_quantity") * 100).cast("long"))
      .withColumn("n_li", count(lit(1)).over(w))
      .withColumn("sum_qc", sum(col("qc")).over(w))
      .filter(col("qc") * 5 * col("n_li") < col("sum_qc"))
      .agg(
        (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double")
          / 100.0 / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** Q21 analog: suppliers who were the LAST to ship in a multi-supplier
    * finished order (shipdate stands in for the missing receipt/commit
    * pair). Both the EXISTS (another supplier in the order) and the NOT
    * EXISTS (another supplier shipping later) ride equi-joins on
    * l_orderkey with the supplier/date comparisons as residual conditions,
    * so pair space is bounded by per-order line counts, never corpus². */
  private def q21LateShipper(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val fOrders = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    li.as("l1")
      .join(fOrders, col("l1.l_orderkey") === col("o_orderkey"))
      .join(li.as("l2"),
        col("l2.l_orderkey") === col("l1.l_orderkey") &&
          col("l2.l_suppkey") =!= col("l1.l_suppkey"),
        "left_semi")
      .join(li.as("l3"),
        col("l3.l_orderkey") === col("l1.l_orderkey") &&
          col("l3.l_suppkey") =!= col("l1.l_suppkey") &&
          col("l3.l_shipdate") > col("l1.l_shipdate"),
        "left_anti")
      .join(broadcast(t(s, dir, "supplier")),
        col("l1.l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Q22 analog: well-funded customers (balance above the positive-balance
    * mean) with no 1998+ orders, rolled up by nation key (the dataset has
    * no phone country codes). The mean is one broadcast row computed in
    * exact cents; the NOT EXISTS is a left-anti join on the order fact. */
  private def q22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(round(col("c_acctbal") * 100).cast("long")).cast("double")
        / count(lit(1)) / 100.0).as("avg_bal"))
    val active = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Q2 analog: cheapest supplier per qualifying part in a region. With no
    * partsupp the supply relation derives from lineitem — per (part,
    * supplier) the minimum observed unit price in exact cents (IEEE
    * division of identical doubles, then round — engine-stable). The
    * correlated MIN-per-part is the classic agg + equality join-back;
    * part filter and region-filtered supplier dims broadcast.
    */
  private def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val euro = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val parts = t(s, dir, "part")
      .filter(col("p_size") <= 15 && col("p_type") === "LARGE")
      .select(col("p_partkey"))
    val wps = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      // zero-quantity guard: DuckDB's double division yields NULL on /0
      // where ANSI Spark aborts the whole query (hostile_relational);
      // NULL unit costs then fall out of MIN in both engines identically
      .agg(min(when(col("l_quantity") =!= 0.0,
        round(col("l_extendedprice") / col("l_quantity") * 100)
          .cast("long"))).as("cost_c"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(euro), col("s_nationkey") === col("n_nationkey"))
    val minc = wps.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("cost_c")).as("min_c"))
    wps.join(minc, col("l_partkey") === col("mk") && col("cost_c") === col("min_c"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"),
        (col("cost_c").cast("double") / 100.0).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Q11 analog: parts whose inventory value (shipped value by one
    * nation's suppliers) exceeds twice the mean
    * per-part value for that nation — an SF-invariant threshold (the
    * official query's 0.0001/SF fraction, re-expressed so it survives any
    * corpus size). The global (total, n_parts) pair is a 1-row broadcast
    * compared in exact integer cents: value·n > 2·total.
    */
  private def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_9")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val pv = t(s, dir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_c"))
    val tot = pv.agg(sum(col("value_c")).as("tot_c"),
      count(lit(1)).as("n_parts"))
    pv.crossJoin(broadcast(tot))
      .filter(col("value_c") * col("n_parts") > lit(2) * col("tot_c"))
      .select(col("l_partkey"),
        (col("value_c").cast("double") / 100.0).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Q12 analog: order-priority mix by shipping speed. The missing
    * shipmode/receiptdate pair becomes a derived FAST/SLOW band on
    * ship-lag days; the two-arm conditional count is the official shape.
    * One fact join, one 2-row aggregate. */
  private def q12ShipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("speed",
        when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30, "FAST")
          .otherwise("SLOW"))
      .groupBy(col("speed"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("speed"))
  }

  /** Q20 analog: suppliers shipping an outsized share of some red part —
    * share > 2× the per-part mean share, i.e. qty·n_supp > 2·total in
    * exact integer cents over the (part, supplier) aggregate (the
    * compressed domain; the window never sees raw lineitems). Green-part
    * filter broadcasts into the fact scan; the qualifying-supplier set
    * rides a left-semi join. */
  private def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val greenParts = t(s, dir, "part")
      .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    val qualified = t(s, dir, "lineitem")
      .join(broadcast(greenParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
      .withColumn("tot_c", sum(col("qty_c")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .filter(col("qty_c") * col("n_supp") > lit(2) * col("tot_c"))
      .select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_name"), col("s_suppkey"))
  }

  override def queries: Seq[Q] = Seq(
    Q("q1_pricing_summary", q1Pricing, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(ROUND((l_quantity) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_qty,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_base_price,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_charge,
        |  CAST(CAST(SUM(CAST(ROUND((l_quantity) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 / COUNT(*) AS avg_qty,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 / COUNT(*) AS avg_price,
        |  CAST(CAST(SUM(CAST(ROUND((l_discount) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 / COUNT(*) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Q("q3_shipping_priority", q3Shipping, Some(
      """SELECT l_orderkey,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),
    Q("q5_local_supplier", q5LocalSupplier, Some(
      """SELECT r_name, n_name,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)),
    Q("semi_join_open_orders", semiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin)),
    Q("anti_join_orderless", antiJoin, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)),
    Q("window_topk_per_customer", windowTopkPerCustomer, Some(
      """SELECT o_custkey, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    Q("window_running_supplier", windowRunningSupplier, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(ROUND(l_quantity * 1e6) AS BIGINT)) OVER w AS DOUBLE)
        |    / 1e6 AS running_qty,
        |  LAG(l_quantity, 1) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
        |             l_extendedprice, l_quantity) AS prev_qty,
        |  CAST(RANK() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS INT) AS qty_rank
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
        |           l_extendedprice, l_quantity
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey,
        |         l_extendedprice, l_quantity""".stripMargin)),
    Q("rollup_returns", rollupReturns, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(ROUND((l_quantity) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),
    Q("cube_segment_priority", cubeSegmentPriority, Some(
      """SELECT c_mktsegment, o_orderpriority,
        |  CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(ROUND((o_totalprice) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),
    Q("set_intersect_users", setIntersect, Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin)),
    Q("set_except_users", setExcept, Some(
      """SELECT user_id FROM events WHERE event_type = 'error' AND value > 180.0
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 180.0
        |ORDER BY user_id""".stripMargin)),
    Q("set_union_all_bands", setUnionAll, Some(
      """SELECT event_type, band, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT event_type, 'high' AS band FROM events WHERE value > 150.0
        |  UNION ALL
        |  SELECT event_type, 'low' AS band FROM events WHERE value <= 50.0)
        |GROUP BY event_type, band ORDER BY event_type, band""".stripMargin)),
    Q("topk_orders", topkOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    Q("pivot_user_events", pivotUserEvents, Some(
      """SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Q("q6_forecast_revenue", q6Forecast, Some(
      """SELECT
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * l_discount) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    Q("q14_promo_effect", q14Promo, Some(
      """SELECT 100.0 *
        |  (CAST(CAST(SUM(CAST(ROUND((CASE WHEN p_type = 'PROMO'
        |       THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      ) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6)
        |  / (CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
        |      ) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin)),
    Q("q18_large_orders", q18LargeOrders, Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(CAST(SUM(CAST(ROUND((l_quantity) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(CAST(SUM(CAST(ROUND((l_quantity) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 > 300.0
        |)
        |SELECT c_custkey, c_name, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)),
    Q("q7_volume_shipping", q7VolumeShipping, Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    Q("q8_market_share", q8MarketShare, Some(
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |  (CAST(CAST(SUM(CAST(ROUND((CASE WHEN n1.n_name = 'NATION_1'
        |       THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      ) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6)
        |  / (CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
        |      ) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin)),
    Q("q19_discount_revenue", q19Discount, Some(
      """SELECT
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 20 AND 35)""".stripMargin)),
    Q("q10_returned_items", q10ReturnedItems, Some(
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Q("scalar_subquery_above_avg", scalarSubqueryAboveAvg, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*) / 100.0
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin)),
    Q("correlated_max_order", correlatedMaxOrder, Some(
      """SELECT c_custkey, c_name,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order
        |FROM customer c
        |WHERE (SELECT MAX(o_totalprice) FROM orders o
        |       WHERE o.o_custkey = c.c_custkey) > 450000.0
        |ORDER BY c_custkey""".stripMargin)),
    Q("not_in_heavy_parts", notInHeavyParts, Some(
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem WHERE l_quantity >= 49.0)
        |ORDER BY p_partkey""".stripMargin)),
    Q("window_frame_values", windowFrameValues, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  FIRST_VALUE(o_totalprice) OVER hist AS first_price,
        |  LAST_VALUE(o_totalprice) OVER hist AS last_price,
        |  NTH_VALUE(o_totalprice, 2) OVER hist AS second_price,
        |  CUME_DIST() OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice, o_orderkey) AS price_cume_dist
        |FROM orders
        |WINDOW hist AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Q("supplier_pareto", supplierPareto, Some(
      """WITH per_supp AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1
        |), ranked AS (
        |  SELECT l_suppkey, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, l_suppkey) AS BIGINT) AS rk,
        |    CAST(SUM(cents) OVER (ORDER BY cents DESC, l_suppkey
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |    CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
        |  FROM per_supp
        |)
        |SELECT rk, l_suppkey, cents,
        |  CAST(cum_cents AS DOUBLE) / total_cents AS cum_share,
        |  CAST(CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.8
        |       THEN 1 ELSE 0 END AS BIGINT) AS in_head_80
        |FROM ranked ORDER BY rk""".stripMargin)),
    Q("customer_rfm", customerRfm, Some(
      """WITH per_cust AS (
        |  SELECT o_custkey,
        |    MAX(o_orderdate) AS last_order,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1
        |), rfm AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', CAST(last_order AS DATE), DATE '1999-01-01')
        |         AS BIGINT) AS recency_days,
        |    frequency, monetary_cents
        |  FROM per_cust
        |)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_q,
        |  CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_q,
        |  CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_q,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) * 100
        |     + NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) * 10
        |     + NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT)
        |    AS rfm_segment
        |FROM rfm ORDER BY o_custkey""".stripMargin)),
    Q("copurchase_pairs", copurchasePairs, Some(
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin)),
    Q("skyline_parts", skylineParts, Some(
      // sort-scan oracle (round 12): the quadratic NOT-EXISTS dominance
      // form ran 342 s at sf1 and is infeasible at sf10 — this form is the
      // textbook 2-D skyline sweep (strict-prefix max over distinct
      // prices), provably equivalent to the dominance definition: a part
      // is non-dominated iff its size strictly exceeds every size at a
      // strictly lower price AND equals the max size at its own price.
      // Equivalence to the literal NOT-EXISTS SQL was hash-proven at the
      // gate SFs through round 11 (the quadratic form WAS the oracle,
      // green since round 5, incl. the NULL-attribute hostile fixture);
      // this rewrite changes only the oracle's complexity class, not the
      // engine output, and the engine plan is Spark-window while this is
      // DuckDB-window — still two independent executions of the sweep.
      """WITH pp AS (
        |  SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
        |         MAX(p_size) AS smax
        |  FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |  GROUP BY 1
        |), sky AS (
        |  SELECT cents, smax,
        |         MAX(smax) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prevmax
        |  FROM pp
        |)
        |SELECT p.p_partkey,
        |       CAST(ROUND(p.p_retailprice * 100) AS BIGINT) AS cents,
        |       p.p_size
        |FROM part p
        |JOIN sky s ON CAST(ROUND(p.p_retailprice * 100) AS BIGINT) = s.cents
        |          AND p.p_size = s.smax
        |WHERE (s.prevmax IS NULL OR s.prevmax < s.smax)
        |ORDER BY cents, p_partkey""".stripMargin)),
    Q("frequent_triples", frequentTriples, Some(
      // index-expansion form, mirroring the engine's sorted-set HOFs: the
      // old 3-way self-join on l_orderkey ground for 60+ minutes in DuckDB
      // at sf1.0 (quadratic join-then-filter intermediates); expanding each
      // order's sorted brand set to its C(k,3) triples directly is the
      // Σ C(k,3) ≈ 2×|orders| row plan both engines want — 2.4 s at sf1.0,
      // byte-identical result
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), sets AS (
        |  SELECT l_orderkey, list(p_brand ORDER BY p_brand) AS bs
        |  FROM ob GROUP BY 1
        |), tr AS (
        |  SELECT unnest(flatten(flatten(
        |    list_transform(generate_series(1, len(bs) - 2), i ->
        |      list_transform(generate_series(i + 1, len(bs) - 1), j ->
        |        list_transform(generate_series(j + 1, len(bs)), k ->
        |          struct_pack(b1 := bs[i], b2 := bs[j], b3 := bs[k]))))))) AS t
        |  FROM sets
        |)
        |SELECT t.b1 AS b1, t.b2 AS b2, t.b3 AS b3,
        |       CAST(COUNT(*) AS BIGINT) AS support
        |FROM tr
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) >= 10
        |ORDER BY support DESC, b1, b2, b3 LIMIT 20""".stripMargin)),
    Q("pagerank", pagerank, Some(pagerankSql)),
    Q("hits_scores", hitsScores, Some(hitsScoresSql)),
    Q("label_propagation", labelPropagation, Some(labelPropagationSql)),
    Q("modularity_score", modularityScore, Some(modularityScoreSql)),
    Q("recsys_precision_eval", recsysPrecisionEval, Some(recsysPrecisionEvalSql)),
    Q("recsys_ndcg_eval", recsysNdcgEval, Some(recsysNdcgEvalSql)),
    Q("degree_distribution", degreeDistribution, Some(degreeDistributionSql)),
    Q("kcore_peel", kcorePeel, Some(kcorePeelSql)),
    Q("harmonic_centrality", harmonicCentrality, Some(harmonicCentralitySql)),
    Q("link_prediction_cn", linkPredictionCn, Some(linkPredictionCnSql)),
    Q("bfs_hops", bfsHops, Some(bfsHopsSql)),
    Q("item_item_sim", itemItemSim, Some(itemItemSimSql)),
    Q("assoc_rules", assocRules, Some(assocRulesSql)),
    Q("percent_of_parent", percentOfParent, Some(percentOfParentSql)),
    Q("monthly_revenue_mom", monthlyRevenueMom, Some(
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(CAST(SUM(CAST(ROUND((o_totalprice) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS revenue
        |  FROM orders GROUP BY 1
        |)
        |SELECT month, revenue,
        |  LAG(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
        |  ROUND((revenue - LAG(revenue, 1) OVER (ORDER BY month))
        |        / LAG(revenue, 1) OVER (ORDER BY month) * 100.0, 3) AS mom_pct
        |FROM m ORDER BY month""".stripMargin)),
    Q("window_moving_avg", windowMovingAvg, Some(
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w / 100.0 AS centered_avg_7
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin)),
    Q("window_share_rank", windowShareRank, Some(
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
        |           OVER (PARTITION BY c_mktsegment) AS DOUBLE)
        |    AS share_of_segment,
        |  CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment
        |       ORDER BY c_acctbal DESC) AS BIGINT) AS bal_dense_rank
        |FROM customer
        |ORDER BY c_mktsegment, c_custkey""".stripMargin)),
    Q("unpivot_measures", unpivotMeasures, Some(
      """SELECT l_orderkey, l_linenumber, measure, cents
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(ROUND(l_quantity * 100) AS BIGINT) AS quantity,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS extendedprice,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS discount,
        |    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
        |  FROM lineitem WHERE l_orderkey < 100
        |) UNPIVOT (cents FOR measure IN (quantity, extendedprice, discount, tax))
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),
    Q("lateral_top2_suppliers", lateralTop2Suppliers, Some(lateralTop2SuppliersSql)),
    Q("recursive_reachability", recursiveReachability, Some(recursiveReachabilitySql)),
    Q("variant_props_stats", variantPropsStats, Some(variantPropsStatsSql)),
    Q("variant_field_inventory", variantFieldInventory,
      Some(variantFieldInventorySql)),
    Q("pipe_syntax_agg", pipeSyntaxAgg, Some(pipeSyntaxAggSql)),
    Q("json_props_stats", jsonPropsStats, Some(
      // the regexp pins DuckDB's TRY_CAST to Spark's string→bigint cast:
      // DuckDB ROUNDS '5.7' → 6, Spark rejects non-integral strings → NULL
      """WITH j AS (
        |  SELECT event_type, CASE WHEN json_valid(props) AND regexp_matches(
        |    json_extract_string(props, '$.k'), '^[+-]?[0-9]+$')
        |    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |  END AS k
        |  FROM events
        |)
        |SELECT event_type,
        |  MIN(k) AS min_k,
        |  MAX(k) AS max_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(k) AS BIGINT) AS n_k
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("q2_min_cost_supplier", q2MinCostSupplier, Some(
      """WITH euro AS (
        |  SELECT n_nationkey, n_name
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |), wps AS (
        |  SELECT l_partkey, l_suppkey, s_name, s_acctbal, n_name, cost_c
        |  FROM (SELECT l_partkey, l_suppkey,
        |          MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
        |            AS cost_c
        |        FROM lineitem GROUP BY 1, 2)
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN euro ON s_nationkey = n_nationkey
        |  WHERE p_size <= 15 AND p_type = 'LARGE'
        |)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
        |  CAST(cost_c AS DOUBLE) / 100.0 AS supply_cost
        |FROM wps w1
        |WHERE cost_c = (SELECT MIN(cost_c) FROM wps w2
        |                WHERE w2.l_partkey = w1.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)),
    Q("q11_important_stock", q11ImportantStock, Some(
      """WITH pv AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS value_c
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_name = 'NATION_9')
        |  GROUP BY 1
        |)
        |SELECT l_partkey, CAST(value_c AS DOUBLE) / 100.0 AS value
        |FROM pv
        |WHERE value_c * (SELECT CAST(COUNT(*) AS BIGINT) FROM pv)
        |      > 2 * (SELECT CAST(SUM(value_c) AS BIGINT) FROM pv)
        |ORDER BY value DESC, l_partkey""".stripMargin)),
    Q("q12_shipmode_priority", q12ShipmodePriority, Some(
      """SELECT speed,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT o_orderpriority,
        |    CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |              CAST(l_shipdate AS DATE)) <= 30
        |         THEN 'FAST' ELSE 'SLOW' END AS speed
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q20_excess_suppliers", q20ExcessSuppliers, Some(
      """WITH pq AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'red%')
        |  GROUP BY 1, 2
        |), sh AS (
        |  SELECT l_suppkey FROM (
        |    SELECT l_suppkey, qty_c,
        |      SUM(qty_c) OVER (PARTITION BY l_partkey) AS tot_c,
        |      COUNT(*) OVER (PARTITION BY l_partkey) AS n_supp
        |    FROM pq)
        |  WHERE qty_c * n_supp > 2 * tot_c
        |)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_suppkey IN (SELECT l_suppkey FROM sh)
        |ORDER BY s_name, s_suppkey""".stripMargin)),
    Q("q4_priority_count", q4PriorityCount, Some(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q9_product_profit", q9ProductProfit, Some(
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |  CAST(CAST(SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
        |       - 0.5 * p_retailprice * l_quantity) * 1e6) AS HUGEINT))
        |       AS STRING) AS DOUBLE) / 1e6 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),
    Q("q13_order_distribution", q13OrderDistribution, Some(
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Q("q15_top_supplier", q15TopSupplier, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100)
        |         AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Q("q16_supplier_cnt", q16SupplierCnt, Some(
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    Q("q17_small_quantity", q17SmallQuantity, Some(
      """WITH sel AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#2' AND p_type = 'MEDIUM'
        |), w AS (
        |  SELECT l_quantity, l_extendedprice,
        |    CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc,
        |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_li,
        |    SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
        |      OVER (PARTITION BY l_partkey) AS sum_qc
        |  FROM sel)
        |SELECT
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / 7.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM w WHERE qc * 5 * n_li < sum_qc""".stripMargin)),
    Q("q21_late_shipper", q21LateShipper, Some(
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),
    Q("q22_idle_customers", q22IdleCustomers, Some(
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(CAST(SUM(CAST(ROUND((c_acctbal) * 1e6) AS HUGEINT)) AS STRING) AS DOUBLE) / 1e6 AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |           / COUNT(*) / 100.0
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
