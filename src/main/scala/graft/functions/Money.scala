package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact integer-cents aggregation for 2-decimal money columns.
  *
  * A double sum over 10^5..10^9 rows carries summation-order ULP error of
  * ~1e-5 absolute at 1e9 magnitude — enough to flip a round(x, 4) boundary
  * between Spark's partial-aggregate tree and a sequential engine (observed
  * at sf0.1: 6038928116.8477 vs .8476). Money columns here are exactly
  * 2-decimal, so `round(x*100)` is an integer (residual ~1e-9 from the
  * parquet doubles) and a BIGINT sum is EXACT — order-independent,
  * bit-identical across engines; only one final double division remains.
  * The warehouse-side mirror of the same idea is DECIMAL(15,4) at rest
  * (etl.py:120-125). */
object Money {
  /** 2-decimal money/double → exact integer cents. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact Σx as dollars (sum in cents, divide once). */
  def sumMoney(c: Column): Column = sum(cents(c)) / 100.0

  /** Exact Σ price·(1-disc), both 2-decimal. */
  def sumRevenue(price: Column, disc: Column): Column =
    sum(cents(price) * (lit(100L) - cents(disc))) / 10000.0

  /** Conditional [[sumRevenue]]: rows failing `cond` contribute 0 — the
    * CASE-WHEN numerator of ratio queries (TPC-H Q14), kept in exact
    * cents so both engines divide identical integers. */
  def sumRevenueIf(price: Column, disc: Column, cond: Column): Column =
    sum(when(cond, cents(price) * (lit(100L) - cents(disc)))
      .otherwise(lit(0L))) / 10000.0
}
