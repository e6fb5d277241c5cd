package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.TextExpressions

/** Sketch semantics ([[Sketches]]): Bloom no-false-negatives and
  * honest false-positive rate, and the CMS overcount-only guarantee.
  * Volume is small — these target the algebraic contracts; scale
  * behavior is in the plan shape (see the Scaladoc on each builder). */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val m = 1 << 12
  private val k = 2

  private def words(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.alphanumeric.take(3 + rnd.nextInt(5)).mkString)
  }

  test("bloom: every true member hits (no false negatives), relational") {
    val members = words(200, 1).distinct
    val keys = members.toDF("s")
    val bloom = Sketches.bloomBuild(keys, TextExpressions.rolling_hash($"s"), m, k)
    val probed = Sketches.bloomProbe(bloom, keys,
      TextExpressions.rolling_hash($"s"), m, k)
    assert(probed.filter(!$"bloom_hit").count() === 0)
  }

  test("bloom: non-members mostly miss at honest sizing") {
    // 200 members in 4096 bits / k=2 → ~0.1 load; FPR ≈ (1-e^-0.1)^2 < 1%.
    // Disjoint-by-construction probes: digits-only vs alphanumeric words.
    val members = words(200, 5).distinct
    val nonMembers = (1 to 500).map(i => s"#$i#")
    val h = TextExpressions.rolling_hash($"s")
    val bloom = Sketches.bloomBuild(members.toDF("s"), h, m, k)
    val hits = Sketches.bloomProbe(bloom, nonMembers.toDF("s"), h, m, k)
      .filter($"bloom_hit").count()
    assert(hits < 25, s"false-positive count $hits out of 500 — filter broken")
  }

  test("cms: overcount-only — estimate >= exact count for every token") {
    val rnd = new scala.util.Random(6)
    val tokens = words(40, 7)
    // Zipf-ish duplication so cells genuinely collide at width 16
    val occurrences = tokens.flatMap(t => Seq.fill(1 + rnd.nextInt(20))(t))
    val counts = occurrences.toDF("token")
      .groupBy($"token").agg(count(lit(1)).as("exact_cnt"))
    val (d, w) = (3, 16)
    val cms = Sketches.cmsBuild(counts, $"token", $"exact_cnt", d, w)
    assert(cms.count() <= d.toLong * w, "sketch must be bounded by d*w rows")
    val est = Sketches.cmsEstimate(cms, counts, $"token", d, w)
    val under = counts.join(est, "token").filter($"cms_est" < $"exact_cnt")
    assert(under.count() === 0, "CMS must never undercount")
  }

  test("cms: exact when the sketch is wide enough (no collisions possible)") {
    val tokens = words(10, 8).distinct
    val counts = tokens.zipWithIndex
      .map { case (t, i) => (t, (i + 1).toLong) }.toDF("token", "exact_cnt")
    // width 4096 for 10 tokens: collision probability negligible; if the
    // estimate differs from exact here the arithmetic itself is wrong
    val (d, w) = (3, 4096)
    val cms = Sketches.cmsBuild(counts, $"token", $"exact_cnt", d, w)
    val est = Sketches.cmsEstimate(cms, counts, $"token", d, w)
    val diff = counts.join(est, "token").filter($"cms_est" =!= $"exact_cnt")
    assert(diff.count() === 0)
  }

  test("kmvMerge of slice signatures equals the full-corpus signature " +
      "(minK union-closure), hand-traced at k=2") {
    // group A hashes {1,2,3,4} split {1,3} / {2,4}: slice sigs {1,3} and
    // {2,4}; merged min-2 of their union = {1,2} = full min-2. group B
    // lives in one slice only and must pass through unchanged.
    val a = Seq(("A", 1L), ("A", 3L), ("B", 9L)).toDF("g", "h")
    val b = Seq(("A", 2L), ("A", 4L)).toDF("g", "h")
    val fullDocs = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("A", 4L),
      ("B", 9L)).toDF("g", "h")
    val sigA = Sketches.kmvSignatures(a, "g", $"h", 2)
    val sigB = Sketches.kmvSignatures(b, "g", $"h", 2)
    val merged = Sketches.kmvMerge(sigA, sigB, 2)
      .as[(String, Long)].collect().toSet
    val full = Sketches.kmvSignatures(fullDocs, "g", $"h", 2)
      .as[(String, Long)].collect().toSet
    assert(merged == full)
    assert(merged == Set(("A", 1L), ("A", 2L), ("B", 9L)))
  }

  test("joinStrategyPick: tiny side → broadcast; hot key past the " +
      "skew trigger → salted; big uniform → shuffle (the q184 skew " +
      "statistic driving the q73 mitigation)") {
    import spark.implicits._
    def decide(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      Sketches.joinStrategyPick(a, "k", b, "k", 10L, 200L)
        .select($"strategy", $"est_rows")
        .as[(String, Long)].collect().head
    val tiny = Seq(1L, 2L, 3L).toDF("k")
    val bigUniform = spark.range(100).select(($"id" % 50).as("k"))
    // 40 rows on one key + 20 singletons: skew_x100 =
    // 40·100·21 div 60 = 1400 ≥ 200 → salted
    val skewed = (Seq.fill(40)(7L) ++ (100L until 120L)).toDF("k")
    assert(decide(tiny, bigUniform) == (("broadcast", 6L)))
    assert(decide(bigUniform, skewed)._1 == "salted")
    assert(decide(bigUniform, bigUniform) == (("shuffle", 200L)))
    // the skew statistic matches Profiling.keySkewProfile's top row
    val top = Profiling.keySkewProfile(skewed, "k", 1)
      .select($"skew_x100").as[Long].collect().head
    val picked = Sketches.joinStrategyPick(skewed, "k", skewed, "k",
        10L, 200L)
      .select($"skew_x100_a").as[Long].collect().head
    assert(top == picked && top == 1400L)
  }
}
