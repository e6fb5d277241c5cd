package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QuantileState
import graft.plans.KllExpressions
import graft.sources.ManifestTable

/** The `--monitors` composition (VERDICT r15 #5): gated admission +
  * per-(symbol, day) KLL quantile state + experiment state maintained
  * by ONE streaming job, with every readout served FROM the maintained
  * states — through the exact code path the CLI runs
  * (`DemoPipeline.runMonitors`). Replay contract: a same-day re-run
  * and a byte-identical re-delivered payload are no-ops on all three
  * state tables; a new day grows each exactly once and the per-key
  * rolling readout window spans both days. */
class DemoMonitorsSpec extends SparkSpec {

  test("monitors chain: re-run + byte-identical re-delivery are " +
      "no-ops; a new day grows each state once and the rolling " +
      "readout spans the window") {
    import spark.implicits._
    val base = scratchDir("demomon")

    val stateDirs = Seq("accepted", "quantile_state", "exp_state")
    def versions(): Seq[Long] =
      stateDirs.map(d => ManifestTable.currentVersion(s"$base/$d"))
    def qstate(): Set[(String, Long, Long, Long)] =
      ManifestTable.read(spark, s"$base/quantile_state")._2
        .select($"key", $"d", KllExpressions.kll_n($"sk").as("n"),
          KllExpressions.kll_quantile($"sk", lit(500L)).as("p50"))
        .as[(String, Long, Long, Long)].collect().toSet
    def exp(): Set[(Long, Long, Long, Int)] =
      ManifestTable.read(spark, s"$base/exp_state")._2
        .select($"v", $"u", $"m", $"conv")
        .as[(Long, Long, Long, Int)].collect().toSet
    def snapshot() = (qstate(), exp())

    graft.DemoPipeline.runMonitors(spark, base, "2025-10-05")
    val day1 = snapshot()
    val vDay1 = versions()
    // one admitted row per symbol → one (symbol, day) sketch of n = 1
    assert(day1._1.size == 3)
    assert(day1._1.forall { case (_, d, n, _) => d == 20366L && n == 1L })

    // same-day re-run: checkpoint skips consumed files — all frozen
    graft.DemoPipeline.runMonitors(spark, base, "2025-10-05")
    assert(snapshot() == day1 && versions() == vDay1)

    // byte-identical payload under a NEW filename: the watermark
    // key-dedup swallows it; every maintainer sees an empty batch
    Files.copy(Paths.get(s"$base/drop/AAPL_2025-10-05.json"),
      Paths.get(s"$base/drop/AAPL_redelivered.json"))
    graft.DemoPipeline.runMonitors(spark, base, "2025-10-05")
    assert(snapshot() == day1 && versions() == vDay1)

    // a new day: each symbol gains one (symbol, day) sketch, and the
    // maintained rolling readout's later end-day unions both days
    graft.DemoPipeline.runMonitors(spark, base, "2025-10-06")
    val day2 = qstate()
    assert(day2.size == 6)
    assert(day2.filter(_._2 == 20367L).size == 3)
    val rolling = QuantileState.rollingQuantileByKeyFromState(
        ManifestTable.read(spark, s"$base/quantile_state")._2, 7, 500, 200)
      .select($"key", $"end_day", $"n_window")
      .as[(String, Long, Long)].collect().toSet
    assert(rolling.map(r => (r._1, r._2)).size == 6)
    assert(rolling.filter(_._2 == 20367L).forall(_._3 == 2L))
    assert(rolling.filter(_._2 == 20366L).forall(_._3 == 1L))
  }
}
