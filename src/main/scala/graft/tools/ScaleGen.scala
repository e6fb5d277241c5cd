package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence generator (VERDICT r8 #4): the driver's testdata
  * stops at sf0.1, so this tool fabricates a DELIBERATELY SKEWED ~R×
  * slice of the five tables the heaviest operator families read
  * (events, documents, embeddings, orders, customer) by replicating
  * sf0.1 with per-copy id remapping PLUS planted pathologies a 100 TB
  * corpus would show:
  *
  *   - events: a single HOT USER absorbs every ~20th event across all
  *     copies (a bot account — the funnel / DAU skew case), on top of
  *     R× distinct users;
  *   - documents: every ~25th doc gets a shared boilerplate 12-char
  *     prefix (hot fuzzy-dedup block) and copies keep the ORIGINAL
  *     text (cross-copy exact/near duplicates for the dedup ladder);
  *   - embeddings: copies keep the original vectors (dense near-dup
  *     clusters R× the corpus for kNN / semantic dedup);
  *   - orders: plain R× with remapped order keys and R× custkeys (the
  *     stored-quantile column's span and row count both grow).
  *
  * Ids are remapped as id + copy·10⁹ so per-copy key spaces are
  * disjoint (except the planted hot keys). Deterministic: pure column
  * arithmetic on the source rows, no randomness — the same inputs
  * always produce byte-identical tables.
  *
  *   sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 scaledata/x10 10"
  */
object ScaleGen {
  val Offset = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "scaledata/x10"
    val r = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession()

    def copies(df: DataFrame)(remap: (DataFrame, Int) => DataFrame) =
      (0 until r).map(i => remap(df, i)).reduce(_.unionByName(_))

    val ev = spark.read.parquet(s"$src/events.parquet")
    copies(ev) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * Offset))
        // hot user 7: every 20th event of EVERY copy lands on one key
        .withColumn("user_id",
          when(col("event_id") % 20 === 0, lit(7L))
            .otherwise(col("user_id") + lit(i * Offset)))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    copies(docs) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * Offset))
        // boilerplate header: every 25th doc shares one hot prefix
        // block (and becomes a cross-copy near-duplicate family)
        .withColumn("text",
          when(col("doc_id") % 25 === 0,
            concat(lit("common header "), col("text")))
            .otherwise(col("text")))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    copies(emb) { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * Offset))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    copies(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Offset))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")

    // lineitem: order keys follow orders' remap; SUPPLIER KEYS ARE
    // KEPT (the ~1000 original suppliers absorb R× the line items),
    // so the q153/q296 graph's authority side grows R× HOTTER while
    // the customer side grows R× wider — the adversarial in-degree
    // case for rank/HITS supersteps
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copies(li) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Offset))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")

    // customer: R× rows with remapped custkeys but the ORIGINAL 25
    // nation keys — so the q276 blocked-linkage block SIZE grows R×
    // and within-block pairs grow R²: the deliberate worst case for a
    // coarse block key (the named quadratic; ScaleBench pairs it with
    // a fine-block control that restores linear growth)
    val cust = spark.read.parquet(s"$src/customer.parquet")
    copies(cust) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * Offset))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")

    Seq("events", "documents", "embeddings", "orders", "lineitem",
        "customer")
      .foreach { t =>
        val n = spark.read.parquet(s"$out/$t.parquet").count()
        println(s"SCALEGEN $t rows=$n")
      }
    spark.stop()
  }
}
