package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PartitioningSpec extends SparkSpec {

  import spark.implicits._

  test("bucketed tables join without an exchange on the bucket key") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = (1 to 1000).map(i => (i.toLong % 50, i.toLong, i * 1.0))
        .toDF("user_id", "event_id", "value")
      Partitioning.writeBucketed(df, "pb_events", "user_id", 4, Seq("user_id"))
      Partitioning.writeBucketed(df.groupBy("user_id").agg(avg("value").as("m")),
        "pb_users", "user_id", 4, Seq("user_id"))
      val joined = spark.table("pb_events")
        .join(spark.table("pb_users"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free, got:\n$plan")
      assert(joined.count() === 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS pb_events")
      spark.sql("DROP TABLE IF EXISTS pb_users")
    }
  }
}
