package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The SQL entry surface (SURVEY.md §3: the reference's only declarative SQL
  * is strings handed to MySQL; here the engine itself owns the SQL
  * lifecycle — parse → analyze → optimize → execute via Catalyst). */
object SqlSurface {

  private def registerViews(spark: SparkSession, d: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.table(spark, d, t).createOrReplaceTempView(t))

  /** G4 GROUPING SETS (the explicit-sets variant next to rollup/cube),
    * via the SQL API. */
  def groupingSets(spark: SparkSession, d: String): DataFrame = {
    registerViews(spark, d)
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_price,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  /** TPC-H Q3 shape through `spark.sql` end-to-end (parser → Catalyst →
    * same physical operators as the DataFrame path). */
  def sqlTpchQ3(spark: SparkSession, d: String): DataFrame = {
    registerViews(spark, d)
    spark.sql(
      """SELECT l_orderkey,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |       CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** Multi-CTE SQL through `spark.sql`: chained WITH blocks + a window in
    * SQL + a join back — the analyst-authored query shape, exercising the
    * parser's CTE resolution and showing the SQL and DataFrame paths land
    * on the same Catalyst operators. Top-3 spenders per nation. */
  def sqlMultiCte(spark: SparkSession, d: String): DataFrame = {
    registerViews(spark, d)
    spark.sql(
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS spend_cents
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT c_custkey, c_nationkey, spend_cents,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY spend_cents DESC, c_custkey)
        |           AS rk
        |  FROM spend JOIN customer ON o_custkey = c_custkey)
        |SELECT n_name AS nation, rk, c_custkey,
        |       CAST(spend_cents AS DOUBLE) / 100.0 AS spend
        |FROM ranked JOIN nation ON c_nationkey = n_nationkey
        |WHERE rk <= 3
        |ORDER BY nation, rk""".stripMargin)
  }

  /** §2.11 named SQL functions: the custom Catalyst expressions
    * (`rolling_hash`, `dot_product`) called FROM SQL TEXT. Every
    * [[graft.GraftSession]] has them; the query installs them itself
    * ([[graft.plans.GraftFunctions.install]], idempotent) so it also runs
    * on a session built elsewhere. The query
    * fingerprints each doc and self-scores its embedding-table twin
    * (dot_product of vec `doc_id % |embeddings|` with itself = ‖v‖²),
    * proving both expressions resolve, codegen, and agree with the
    * column-API path. */
  def sqlCustomFunctions(spark: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.install(spark)
    registerViews(spark, d)
    spark.sql(
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings)
        |SELECT d.doc_id,
        |       rolling_hash(d.text) AS fp,
        |       CAST(pmod(rolling_hash(d.text), 100) AS INT) AS bucket,
        |       round(dot_product(CAST(e.embedding AS ARRAY<DOUBLE>),
        |                         CAST(e.embedding AS ARRAY<DOUBLE>)), 4)
        |         AS self_dot
        |FROM documents d
        |CROSS JOIN n
        |JOIN embeddings e ON e.vec_id = d.doc_id % n.cnt
        |ORDER BY d.doc_id""".stripMargin)
  }
}
