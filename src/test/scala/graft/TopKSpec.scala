package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerKey

/** Custom TopKPerKey physical operator vs the window formulation. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("TopKPerKey equals window row_number formulation on orders") {
    val orders = Tables.t(spark, sf001, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val custom = TopKPerKey(orders,
      keys = Seq($"o_custkey"),
      orderBy = Seq($"o_totalprice".desc, $"o_orderkey"), k = 3)
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val window = orders
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3).drop("rk")
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    assert(custom.toSeq === window.toSeq)
  }

  test("TopKPerKey plan shape: partial exec below exchange, final above") {
    val orders = Tables.t(spark, sf001, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val plan = TopKPerKey(orders, Seq($"o_custkey"),
      Seq($"o_totalprice".desc, $"o_orderkey"), 3)
      .queryExecution.executedPlan.toString
    // two TopKPerKey nodes (partial + final) around a hash exchange
    assert("TopKPerKey \\[".r.findAllIn(plan).size === 2, plan)
    assert(plan.contains("Exchange hashpartitioning(o_custkey"), plan)
  }

  test("RowNumberTopKRewrite rewrites the window idiom into TopKPerKey") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    def idiom(s: org.apache.spark.sql.SparkSession) = Tables.t(s, sf001, "orders")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice") // rk projected away
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
    val rewritten = idiom(spark)
    val opt = rewritten.queryExecution.optimizedPlan
    assert(opt.collect {
      case n: org.apache.spark.sql.graft.TopKPerKeyNode => n }.nonEmpty, opt.toString)
    assert(opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty,
      opt.toString)
    // and the rewrite preserves results vs a session without the extensions
    // (newSession starts with empty experimental rules): its plan must
    // still hold the Window, or this compares the rewrite with itself
    val plain = idiom(spark.newSession())
    val plainOpt = plain.queryExecution.optimizedPlan
    assert(plainOpt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.nonEmpty,
      plainOpt.toString)
    assert(rewritten.collect().toSeq === plain.collect().toSeq)
  }

  test("RowNumberTopKRewrite also rewrites the idiom when the rank is kept, " +
      "emitting an identical rank column") {
    val orders = Tables.t(spark, sf001, "orders")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val keepsRank = orders
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"rk", $"o_orderkey")
    val opt = keepsRank.queryExecution.optimizedPlan
    assert(opt.collect {
      case n: org.apache.spark.sql.graft.TopKPerKeyNode => n }.nonEmpty, opt.toString)
    assert(opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty,
      opt.toString)
    // rank values identical to row_number: collect the UNFILTERED window
    // output (no Filter(Window) pattern, so the rule cannot fire on it) and
    // apply the top-3 filter driver-side
    val expected = orders
      .withColumn("rk", row_number().over(w))
      .select($"o_custkey", $"rk", $"o_orderkey")
      .as[(Long, Int, Long)].collect()
      .filter(_._2 <= 3).sortBy(r => (r._1, r._2)).toSeq
    val got = keepsRank.orderBy($"o_custkey", $"rk")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got === expected)
  }

  test("TopKPerKey handles k larger than group size and single groups") {
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("k", "v")
    val out = TopKPerKey(df, Seq($"k"), Seq($"v".desc), 5)
      .orderBy($"k", $"v".desc).as[(Int, Int)].collect()
    assert(out.toSeq === Seq((1, 20), (1, 10), (2, 5)))
  }
}
