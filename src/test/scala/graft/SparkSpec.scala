package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — suites reuse it
  * through getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Spark's FileStreamSink.hasMetadata logs a WARN + full stack on
    // EVERY batch read of a glob path whose literal form doesn't exist
    // (AlphaVantageSpec's `{ERR_mixed,GOOG_d1}.json` read) while merely
    // checking for streaming-sink metadata — a harmless 30-line stack
    // per such read (VERDICT r13 #8). Passing tests should read clean:
    // raise just that logger to ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
