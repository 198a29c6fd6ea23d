package graft

import org.apache.spark.sql.functions._

/** AQE skew-join handling (the runtime half of the skew story — Skew.scala
  * is the planning-time half): with skew thresholds scaled down to spec
  * size, Spark's OptimizeSkewedJoin must split the hot partition of a
  * sort-merge join at runtime. At 100 TB this is the mechanism that saves
  * a join on a power-law key (user_id, domain) without hand-salting. */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")

      // 90% of the left side lands on key 0 — a power-law hot key
      val left = spark.range(0, 50000)
        .select(when(col("id") % 10 =!= 0, 0L).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("pad"))
      val right = spark.range(0, 5000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")

      // execute THIS frame (count() would plan a different query) so the
      // AdaptiveSparkPlan reaches its final re-optimized form
      // k=0 left rows: 45000 non-multiples + id=0 ⇒ 45001; multiples of 10
      // with k=id present in right: 10..4990 ⇒ 499
      assert(joined.collect().length == 45001 + 499)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
