package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketedStoreSpec extends SparkSpec {

  test("co-bucketed tables join and aggregate with zero Exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try {
      val store = new BucketedStore(spark)
      val orders = (1L to 500L).map(k => (k, k % 7)).toDF("k", "status")
      val items = (1L to 2000L).map(i => (i % 500 + 1, i * 1.5)).toDF("k", "amount")
      store.writeBucketed(orders, "b_orders", "k", buckets = 8)
      store.writeBucketed(items, "b_items", "k", buckets = 8)

      val joined = store.read("b_orders").join(store.read("b_items"), Seq("k"))
      assert(store.isShuffleFree(joined), joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 2000L)

      // groupBy on the bucket key also reuses the layout.
      val agg = store.read("b_items").groupBy("k").agg(sum("amount"))
      assert(store.isShuffleFree(agg), agg.queryExecution.executedPlan.toString)
      assert(agg.count() == 500L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
