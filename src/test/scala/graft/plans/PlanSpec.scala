package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.queries.Relational

/** Physical-plan assertions: the properties that make these plans survive a
  * 100x scale-up (pushdown, pruning, broadcast, top-k) are checked here so
  * a regression shows up as a test failure, not a slow cluster bill. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+project pushes predicates and prunes columns at the scan") {
    val plan = planOf(Relational.filterProject(spark, sf))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("IsNotNull(l_shipdate)"),
      s"expected pushed filters in:\n$plan")
    // pruned read schema: no l_partkey/l_suppkey/l_returnflag in the scan
    assert(!plan.contains("l_returnflag"), "scan should prune l_returnflag")
  }

  test("star join broadcasts every dimension, shuffles the fact once") {
    val plan = planOf(Relational.joinMulti(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.topK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bucketed tables sort-merge join with no shuffle exchange") {
    import spark.implicits._
    val wh = scratchDir("buckets")
    graft.Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    graft.Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").mode("overwrite").saveAsTable("o_b")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      // co-located bucket scans: the join itself needs no repartitioning
      val exchangesBeforeJoin = plan.split("SortMergeJoin").last
      assert(!exchangesBeforeJoin.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle its inputs:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("partitioned write prunes partitions at the scan (PartitionFilters)") {
    import spark.implicits._
    val dir = scratchDir("parts")
    graft.Tables.orders(spark, sf)
      .withColumn("order_month",
        date_format($"o_orderdate", "yyyy-MM"))
      .write.partitionBy("order_month").mode("overwrite").parquet(s"$dir/orders_p")
    val one = spark.read.parquet(s"$dir/orders_p")
      .filter($"order_month" === "2001-01")
    val plan = one.queryExecution.executedPlan.toString
    // the month predicate must become a partition filter, not a row filter
    assert(plan.contains("PartitionFilters: [isnotnull(order_month"), plan)
    val monthsScanned = one.select($"order_month").distinct().collect()
    assert(monthsScanned.length <= 1)
    assert(one.count() ==
      graft.Tables.orders(spark, sf)
        .filter(date_format($"o_orderdate", "yyyy-MM") === "2001-01").count())
  }

  test("custom expressions reject wrong input types at ANALYSIS time") {
    import spark.implicits._
    val df = Seq((1L, "not an array")).toDF("id", "s")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.operators.Similarity.dot($"s", $"s")).collect()
    }
    assert(e1.getMessage.contains("array<double>"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.plans.TextExpressions.shingle_hashes($"s", 3)).collect()
    }
    assert(e2.getMessage.contains("array"))
  }

  test("registered SQL functions equal the column-API expressions") {
    import spark.implicits._
    // no register call: GraftSession installs the functions
    Seq((1L, "hello world", Seq(1.5f, -2f)), (2L, "", Seq(0f, 3f)))
      .toDF("id", "t", "v").createOrReplaceTempView("gf_parity")
    val viaSql = spark.sql(
      """SELECT id, rolling_hash(t) AS rh,
        |       simhash64(split(t, ' ')) AS sh,
        |       dot_product(CAST(v AS ARRAY<DOUBLE>),
        |                   CAST(v AS ARRAY<DOUBLE>)) AS dp
        |FROM gf_parity""".stripMargin)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    val viaCols = spark.table("gf_parity").select($"id",
        TextExpressions.rolling_hash($"t").as("rh"),
        TextExpressions.simhash64(split($"t", " ")).as("sh"),
        VectorExpressions.dot_product($"v".cast("array<double>"),
          $"v".cast("array<double>")).as("dp"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(viaSql == viaCols)
    assert(viaSql.map(_._4) == List(1.5 * 1.5 + 4.0, 9.0))
  }

  test("the SQL-function and native as-of queries run on a session " +
      "GraftSession did not build") {
    val other = spark.newSession()
    assert(!other.catalog.functionExists("rolling_hash"))
    assert(!other.experimental.extraStrategies.contains(AsOfJoinStrategy))
    val viaSql = graft.queries.SqlSurface.sqlCustomFunctions(other, sf)
      .collect().toSeq
    assert(viaSql.nonEmpty &&
      viaSql == graft.queries.SqlSurface.sqlCustomFunctions(spark, sf)
        .collect().toSeq)
    val asOf = graft.queries.Temporal.asOfJoinNative(other, sf)
    assert(asOf.queryExecution.executedPlan.toString.contains("AsOfJoin "))
    val rows = asOf.collect().toSeq
    assert(rows.nonEmpty &&
      rows == graft.queries.Temporal.asOfJoinNative(spark, sf).collect().toSeq)
  }

  test("codegen dot product is bit-identical to the higher-order fold") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val diff = emb.select(
      (Similarity.dot($"v", $"v") - Similarity.dotHof($"v", $"v")).as("d"))
      .agg(max(abs($"d"))).as[Double].head()
    assert(diff == 0.0) // same fold order → identical doubles, not just close
  }

  test("codegen dot product is NULL where the fold is: a null element, " +
      "a length mismatch") {
    // range-based so constant folding leaves the expressions to run
    val df = spark.range(1).select(
      expr("array(cast(id AS double) + 1.0, CAST(NULL AS double))").as("nul"),
      expr("array(cast(id AS double), 2.0, 3.0)").as("three"),
      expr("array(cast(2.0 AS double), cast(3.0 AS double))").as("two"))
    val row = df.select(
      Similarity.dot(col("nul"), col("two")), Similarity.dotHof(col("nul"), col("two")),
      Similarity.dot(col("three"), col("two")), Similarity.dotHof(col("three"), col("two")))
      .collect().head
    assert((0 until 4).forall(row.isNullAt), row)
  }

  /** Best-of-N wall time: a single-shot comparison is load-sensitive (a
    * background GC or a neighboring suite's task can flip a 2x gap) and
    * flaked twice in full-suite runs; the minimum over N runs measures
    * the code's floor, which is what the A/B claims are about. */
  private def bestOf(n: Int)(f: => Unit): Double =
    (1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

  test("codegen dot product beats the CodegenFallback fold") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"embedding".cast("array<double>").as("v")).cache()
    emb.count()
    // cross join: 500 x 500 = 250k dot products of dim 64
    val pairs = emb.crossJoin(emb.select($"v".as("w")))
    val warm = pairs.limit(10)
    warm.select(Similarity.dot($"v", $"w")).count()
    warm.select(Similarity.dotHof($"v", $"w")).count()
    val tCodegen = bestOf(3)(pairs.select(sum(Similarity.dot($"v", $"w"))).collect())
    val tHof = bestOf(3)(pairs.select(sum(Similarity.dotHof($"v", $"w"))).collect())
    info(f"codegen: $tCodegen%.3fs, higher-order fold: $tHof%.3fs " +
      f"(${tHof / tCodegen}%.1fx)")
    assert(tCodegen < tHof, s"codegen=$tCodegen hof=$tHof")
  }

  test("sorted_intersect_count equals size(array_intersect) on shingle arrays") {
    import spark.implicits._
    // real ShingleHashes output (sorted, distinct) over every doc pair of
    // a 60-doc sample — includes empty-overlap, full-overlap (self pairs
    // excluded by the builder, so add one identity column check instead)
    val da = graft.operators.Dedup.shingleArrays(
      graft.Tables.documents(spark, sf).filter($"doc_id" < 60))
    val pairs = da.select($"arr".as("a"))
      .crossJoin(da.select($"arr".as("b")))
    val mismatches = pairs.filter(
      graft.plans.TextExpressions.sorted_intersect_count($"a", $"b") =!=
        size(array_intersect($"a", $"b"))).count()
    assert(mismatches == 0)
    // self-intersection = array length (full overlap path)
    val selfBad = da.filter(
      graft.plans.TextExpressions.sorted_intersect_count($"arr", $"arr") =!=
        size($"arr")).count()
    assert(selfBad == 0)
  }

  test("sorted_intersect_count merge walk beats array_intersect") {
    import spark.implicits._
    val da = graft.operators.Dedup.shingleArrays(
      graft.Tables.documents(spark, sf)).select($"arr").cache()
    da.count()
    val pairs = da.crossJoin(da.select($"arr".as("brr")))
    val warm = pairs.limit(10)
    warm.select(graft.plans.TextExpressions
      .sorted_intersect_count($"arr", $"brr")).count()
    warm.select(size(array_intersect($"arr", $"brr"))).count()
    val tWalk = bestOf(3)(pairs.select(sum(graft.plans.TextExpressions
      .sorted_intersect_count($"arr", $"brr"))).collect())
    val tBuiltin = bestOf(3)(
      pairs.select(sum(size(array_intersect($"arr", $"brr")))).collect())
    info(f"merge walk: $tWalk%.3fs, array_intersect: $tBuiltin%.3fs " +
      f"(${tBuiltin / tWalk}%.1fx)")
    assert(tWalk < tBuiltin, s"walk=$tWalk builtin=$tBuiltin")
  }
}
