package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ManifestTable

/** The `--e2e` demo pipeline (VERDICT r11 #6): the reference's scheduled
  * idempotent ingest chained with EVERY incremental state maintainer —
  * gated admission, per-day sketch, label-quality state, experiment
  * state, and frozen-codebook IVF append — through the exact code path
  * the CLI runs (`DemoPipeline.runE2e`). The replay contract: a same-day
  * re-run and the reference's byte-identical re-delivered AAPL payload
  * (etl.py's 10-05 == 10-06 pair) must leave ALL FIVE state tables
  * bit-stable; a genuinely new day must grow each state exactly once,
  * with the IVF members still assigned by the DAY-1 frozen codebook
  * (q267's serve-over-appended == serve-over-rebuilt invariant). */
class DemoE2eSpec extends SparkSpec {

  test("e2e maintainer chain: re-run + byte-identical re-delivery are " +
      "no-ops on all five states; a new day grows each exactly once " +
      "under the frozen codebook") {
    import spark.implicits._
    val base = scratchDir("demoe2e")

    def ver(d: String): Long = ManifestTable.currentVersion(s"$base/$d")
    def accepted(): Set[Long] =
      ManifestTable.read(spark, s"$base/accepted")._2
        .select($"doc_id").as[Long].collect().toSet
    def dau(): Map[Long, Long] =
      ManifestTable.read(spark, s"$base/symbol_state")._2
        .select($"d", expr("hll_sketch_estimate(sk)").as("n"))
        .as[(Long, Long)].collect().toMap
    def labels(): Set[(String, Long, Long, Long, Long)] =
      ManifestTable.read(spark, s"$base/label_state")._2
        .select($"lf", $"n", $"n_covered", $"n_pos", $"n_agree")
        .as[(String, Long, Long, Long, Long)].collect().toSet
    def exp(): Set[(Long, Long, Long, Int)] =
      ManifestTable.read(spark, s"$base/exp_state")._2
        .select($"v", $"u", $"m", $"conv")
        .as[(Long, Long, Long, Int)].collect().toSet
    def members(): Map[Long, Long] =
      ManifestTable.read(spark, s"$base/ivf_members")._2
        .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    val stateDirs = Seq("accepted", "symbol_state", "label_state",
      "exp_state", "ivf_members", "ivf_centroids")
    def allVersions(): Seq[Long] = stateDirs.map(ver)
    def snapshot() = (accepted(), dau(), labels(), exp(), members())

    graft.DemoPipeline.runE2e(spark, base, "2025-10-05")
    val day1 = snapshot()
    val vDay1 = allVersions()
    assert(day1._1.size == 3)                 // one admitted doc per symbol
    assert(day1._2 == Map(20366L -> 3L))      // 2025-10-05 = epoch day 20366
    assert(day1._3.map(_._1) == Set("up", "calm", "liquid"))
    assert(day1._3.forall(_._2 == 3L))        // every LF saw all 3 rows
    assert(day1._5.keySet == day1._1)         // index serves the admitted day
    assert(ver("ivf_centroids") == 1L)        // ONE offline training commit

    // same-day re-run: the checkpoint skips consumed files — every
    // state table keeps both its contents AND its version
    graft.DemoPipeline.runE2e(spark, base, "2025-10-05")
    assert(snapshot() == day1 && allVersions() == vDay1)

    // the reference's duplicate: byte-identical AAPL payload under a
    // NEW filename — a new file to the stream, but an exact
    // (symbol, date) duplicate; the watermark key-dedup state (alive
    // across the restart via the checkpoint) swallows it before any
    // sink runs, so every maintainer sees an empty batch and
    // short-circuits without committing an empty snapshot
    Files.copy(Paths.get(s"$base/drop/AAPL_2025-10-05.json"),
      Paths.get(s"$base/drop/AAPL_redelivered.json"))
    graft.DemoPipeline.runE2e(spark, base, "2025-10-05")
    assert(snapshot() == day1 && allVersions() == vDay1)

    // a genuinely NEW day: every state grows exactly once, and the
    // codebook is NOT retrained — members append under day 1's cells
    graft.DemoPipeline.runE2e(spark, base, "2025-10-06")
    val day2 = snapshot()
    assert(ver("ivf_centroids") == 1L)        // still the day-1 codebook
    assert(day2._1.size == 6)                 // 3 new docs admitted
    assert(day2._2 == Map(20366L -> 3L, 20367L -> 3L))
    assert(day2._3.map(_._1) == Set("up", "calm", "liquid"))
    assert(day2._3.forall(_._2 == 6L))
    assert(day2._5.keySet == day2._1)
    assert(day1._5.forall { case (id, cid) => day2._5(id) == cid })
    // the q267 frozen-assignment invariant end-to-end: re-assigning
    // EVERY member against the persisted codebook reproduces the
    // stored cid column exactly (append == rebuild)
    val cents = graft.operators.Similarity.centroidsOf(
      ManifestTable.read(spark, s"$base/ivf_centroids")._2)
    val reassigned = graft.operators.Similarity.assignWithVec(
        ManifestTable.read(spark, s"$base/ivf_members")._2
          .select($"vec_id", $"embedding"), cents)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    assert(reassigned == day2._5)

    // and the new day replays as a no-op too
    val vDay2 = allVersions()
    graft.DemoPipeline.runE2e(spark, base, "2025-10-06")
    assert(snapshot() == day2 && allVersions() == vDay2)
  }
}
