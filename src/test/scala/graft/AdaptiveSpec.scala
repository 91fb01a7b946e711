package graft

import org.apache.spark.sql.functions._

/** AQE runtime re-planning: the engine-level skew machinery that complements
  * the explicit salting operators (`skew_join_salted`, `salted_agg`).
  */
class AdaptiveSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join partition at runtime") {
    GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8") {
      // one key carries ~99% of the left side: its shuffle partition dwarfs
      // the median and crosses the lowered thresholds
      val left = spark.range(200000)
        .select(when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"),
          $"id".as("v"))
      val right = spark.range(2000).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = left.join(right, "k")

      // collect() executes THIS DataFrame's own queryExecution (count()
      // would plan a separate aggregate query and leave this one unfinalized)
      val n = joined.collect().length.toLong
      // every left row with key 0 matches right's key 0; key id%100==0 rows
      // (id in [1, 2000)) match their own key
      val expected = left.filter($"k" === 0).count() +
        left.filter($"k" =!= 0 && $"k" < 2000).count()
      assert(n === expected)

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    GraftSession.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // test-scale tables are far below the production thresholds
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // keep the SMJ shape
      val li = Tables.t(spark, sf001, "lineitem")
      val sel = Tables.t(spark, sf001, "orders")
        .filter($"o_totalprice" > 400000.0) // selective build side
      val joined = li.join(sel, $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_quantity", $"o_totalprice")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$plan")
      assert(joined.count() > 0)
    }
  }
}
