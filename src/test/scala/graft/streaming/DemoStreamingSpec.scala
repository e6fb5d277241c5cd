package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ManifestTable

/** The `--streaming` demo pipeline end-to-end (VERDICT r8 #8): ONE
  * entry point = file-drop → watermark key-dedup → gated admission +
  * per-day sketch state, driven through the exact code path the CLI
  * runs (`DemoPipeline.runStreaming`). Replays the reference's
  * duplicate-payload situation (AAPL_2025-10-05.json re-delivered
  * byte-identically under a new filename — etl.py's 10-05 == 10-06
  * pair) against the COMPOSITE pipeline: nothing may land twice in the
  * accepted manifest, and the sketch state must be value-idempotent. */
class DemoStreamingSpec extends SparkSpec {

  test("one scheduled run admits the day once; a re-run and a " +
      "re-dropped byte-identical payload are no-ops at every layer") {
    import spark.implicits._
    val base = scratchDir("demostream")
    def accepted(): Set[Long] =
      ManifestTable.read(spark, s"$base/accepted")._2
        .select($"doc_id").as[Long].collect().toSet
    def state(): Map[Long, Long] =
      ManifestTable.read(spark, s"$base/symbol_state")._2
        .select($"d", expr("hll_sketch_estimate(sk)").as("n"))
        .as[(Long, Long)].collect().toMap

    graft.DemoPipeline.runStreaming(spark, base, "2025-10-05")
    val day1 = accepted()
    assert(day1.size == 3) // one doc per symbol
    // 2025-10-05 = epoch day 20366; 3 distinct symbols (sparse-exact)
    assert(state() == Map(20366L -> 3L))

    // same-day re-run: the checkpoint skips consumed files, nothing new
    graft.DemoPipeline.runStreaming(spark, base, "2025-10-05")
    assert(accepted() == day1)
    assert(state() == Map(20366L -> 3L))

    // the reference's duplicate situation: the byte-identical AAPL
    // payload re-delivered under a NEW filename — a new file to the
    // stream, but every row is an exact (symbol, date) + exact-text
    // duplicate; the key-dedup and/or persisted text gate drop it and
    // the sketch union of already-present values changes no estimate
    Files.copy(Paths.get(s"$base/drop/AAPL_2025-10-05.json"),
      Paths.get(s"$base/drop/AAPL_redelivered.json"))
    graft.DemoPipeline.runStreaming(spark, base, "2025-10-05")
    assert(accepted() == day1)
    assert(state() == Map(20366L -> 3L))
  }
}
