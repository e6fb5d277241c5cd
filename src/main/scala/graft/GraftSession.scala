package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built, for every main and the
  * test suites: `local[cpus]` with `cpus` shuffle partitions, UTC session
  * time, parquet nanosecond timestamps read as longs, no UI, WARN logging
  * (but for the expected warning of a pin release), and the graft SQL
  * functions and as-of join strategy installed
  * ([[graft.plans.GraftFunctions.install]]). */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(): SparkSession = apply(cpus)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every [[graft.operators.Pin.release]] unpersists a local checkpoint,
    // which Spark warns cannot be recomputed: that is what a release means
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    graft.plans.GraftFunctions.install(spark)
    spark
  }
}
