package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §7 "100 TB design notes"): when one join/agg
  * key dominates, a single reducer drowns no matter how many executors the
  * cluster has. Salting splits the hot key's rows across `buckets`
  * sub-keys; the other side replicates per salt, restoring correctness.
  * AQE's skew-join handles the join case adaptively at runtime — this
  * operator is the explicit form for when the skew is known up front. */
object Salt {

  /** Equi-join with a salted fact side: `fact ⋈ dim` on `key`, with fact
    * rows scattered over `buckets` sub-partitions and the (small) dim side
    * replicated `buckets` times. Result rows are identical to the plain
    * join — only the shuffle distribution changes. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      buckets: Int): DataFrame = {
    // any distribution is correct; partition id spreads a hot key's rows
    // across input splits without a per-row RNG (deterministic per task)
    val salted = fact.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets))
        .cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
