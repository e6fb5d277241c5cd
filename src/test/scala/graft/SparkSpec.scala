package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM, built by
  * [[GraftSession]] at 4 cores), and per-suite scratch directories. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val scratch = mutable.Buffer[File]()

  /** A fresh directory in the system temp dir, deleted with all it holds
    * after the suite's last test. */
  protected def scratchDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    scratch.synchronized(scratch += d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally scratch.synchronized(scratch.foreach(FileUtils.deleteQuietly))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(4)
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
