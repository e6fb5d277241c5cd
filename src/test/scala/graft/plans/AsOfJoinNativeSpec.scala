package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

class AsOfJoinNativeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("native as-of join matches the union+window formulation exactly") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf)
    val signups = ev.filter($"event_type" === "signup").select($"user_id", $"ts")
    val viaWindow = AsOfJoin.asOf(ev, signups, "user_id", "ts", "ts", Seq("ts"))
      .select($"user_id", $"event_id", $"asof_ts")
      .as[(Long, Long, Option[java.sql.Timestamp])].collect().toSet
    val native = AsOfJoinNative.asOf(ev, signups, "user_id", "ts", "ts", Seq("ts"))
      .select($"user_id", $"event_id", $"asof_ts")
      .as[(Long, Long, Option[java.sql.Timestamp])].collect().toSet
    assert(native == viaWindow)
    assert(native.nonEmpty)
  }

  test("native as-of join picks latest at-or-before per key (hand case)") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("key", "ts", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 9L, 90.0))
      .toDF("key", "ts", "price")
    val out = AsOfJoinNative.asOf(left, right, "key", "ts", "ts", Seq("price"))
      .select($"key", $"ts", $"asof_price")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, 10L, Some(100.0)),  // exact-ts match counts
      (1L, 20L, Some(150.0)),  // latest of the two
      (2L, 5L, None)))         // right row is later → no match
  }

  test("string keys do not leak payload across key boundaries (buffer reuse)") {
    import spark.implicits._
    // key B has NO eligible right row; with a stale/aliased held key the
    // merge would wrongly carry A's payload into B. BUCKETED-SORTED string
    // tables: no exchange/sort is inserted, so left rows stream straight
    // from the scan — the class of child whose row memory is not stable
    // across next() calls (columnar vectors are reused per batch; row
    // pipelines reuse one UnsafeRow buffer), which is why AsOfJoinExec
    // must copy the key it holds across rows.
    val wh = scratchDir("asofstr")
    spark.range(200).select(
      concat(lit("key_"), format_string("%03d", expr("id div 2"))).as("key"),
      ($"id" % 2 * 100).as("ts"), $"id".as("tag"))
      .write.bucketBy(2, "key").sortBy("key", "ts")
      .option("path", s"$wh/l").mode("overwrite").saveAsTable("asof_l_str")
    spark.range(100).filter($"id" % 2 === 0).select(
      concat(lit("key_"), format_string("%03d", $"id")).as("key"),
      lit(0L).as("ts"), ($"id" * 1.0).as("price"))
      .write.bucketBy(2, "key").sortBy("key", "ts")
      .option("path", s"$wh/r").mode("overwrite").saveAsTable("asof_r_str")
    try {
      val out = AsOfJoinNative.asOf(spark.table("asof_l_str"),
        spark.table("asof_r_str"), "key", "ts", "ts", Seq("price"))
        .select($"key", $"asof_price").as[(String, Option[Double])]
        .collect().groupBy(_._1)
      // even keys have a right row at ts 0 → price = key number; odd keys
      // have none → None for BOTH their left rows
      (0 until 100).foreach { i =>
        val vals = out(f"key_$i%03d").map(_._2).toSet
        if (i % 2 == 0) assert(vals == Set(Some(i * 1.0)), s"key $i: $vals")
        else assert(vals == Set(None), s"key $i leaked payload: $vals")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS asof_l_str")
      spark.sql("DROP TABLE IF EXISTS asof_r_str")
    }
  }

  test("bucketed-sorted children feed the native as-of join with NO exchange") {
    import spark.implicits._
    val wh = scratchDir("asofb")
    val ev = graft.Tables.events(spark, sf).select($"user_id", $"ts", $"value")
    ev.write.bucketBy(4, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wh/ev_b").mode("overwrite").saveAsTable("ev_b")
    ev.filter($"value" > 50).select($"user_id", $"ts")
      .write.bucketBy(4, "user_id").sortBy("user_id", "ts")
      .option("path", s"$wh/sig_b").mode("overwrite").saveAsTable("sig_b")
    try {
      val df = AsOfJoinNative.asOf(spark.table("ev_b"), spark.table("sig_b"),
        "user_id", "ts", "ts", Seq("ts"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed as-of join should not shuffle:\n$plan")
      assert(df.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ev_b")
      spark.sql("DROP TABLE IF EXISTS sig_b")
    }
  }

  test("physical plan is AsOfJoinExec with sorted exchange children") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a")).toDF("key", "ts", "tag")
    val right = Seq((1L, 5L, 1.0)).toDF("key", "ts", "price")
    val df = AsOfJoinNative.asOf(left, right, "key", "ts", "ts", Seq("price"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    df.collect() // and it runs
  }

  test("mismatched key or ts types fail at construction, not mid-merge") {
    import spark.implicits._
    val left = Seq((1, 10L, "a")).toDF("key", "ts", "tag")         // int key
    val right = Seq((1L, 5L, 1.0)).toDF("key", "ts", "price")      // long key
    val e = intercept[IllegalArgumentException] {
      AsOfJoinNative.asOf(left, right, "key", "ts", "ts", Seq("price"))
    }
    assert(e.getMessage.contains("key types differ"), e.getMessage)
    val left2 = Seq((1L, 10, "a")).toDF("key", "ts", "tag")        // int ts
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoinNative.asOf(left2, right, "key", "ts", "ts", Seq("price"))
    }
    assert(e2.getMessage.contains("ts types differ"), e2.getMessage)
  }
}
