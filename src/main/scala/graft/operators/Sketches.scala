package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TextExpressions

/** Probabilistic sketches for corpus-scale pipelines (north-star X1/X4
  * generalization; no reference counterpart — the reference's only
  * membership structure is the UNIQUE(symbol,date) key,
  * /root/reference/etl.py:142): a Bloom filter for cheap set-membership
  * prescreens (e.g. "might this shingle already exist in the corpus?"
  * before an expensive verify join) and a Count-Min sketch for
  * fixed-memory frequency estimates over unbounded token streams.
  *
  * Both are DETERMINISTIC — hashes derive from [[TextExpressions
  * .rolling_hash]], which has an exact DuckDB twin — so sketch outputs are
  * oracle-checkable, unlike seed-randomized implementations.
  *
  * Scale design: both sketches are RELATIONAL (rows): the Bloom filter
  * as a distinct set-bit position table, the CMS as a (seed, cell) →
  * total table. Builds are one groupBy/distinct shuffle; probes are
  * equi-joins, broadcast while the filter is small ([[bloomProbe]]). This
  * form has no size ceiling — a 10^11-bit filter is just a bigger
  * position table, partitioned like any other.
  */
object Sketches {

  // ---------------------------------------------------------------- Bloom

  /** Position of hash function `i` for 31-bit input hash `h`: classic
    * Kirsch–Mitzenmacher double hashing, pos_i = (h mod m + i * (1 + h mod
    * (m-1))) mod m — k positions from ONE base hash with pairwise-
    * independent behavior (Kirsch & Mitzenmacher, "Less hashing, same
    * performance", ESA 2006). Pure integer arithmetic on a non-negative
    * hash → identical in any engine. */
  def bloomPosition(h: Column, i: Int, m: Int): Column =
    pmod(pmod(h, lit(m.toLong)) + lit(i.toLong) * (pmod(h, lit(m.toLong - 1)) + lit(1L)),
      lit(m.toLong))

  /** Relational Bloom build: the distinct set-bit positions of `keys`'
    * hash column as a one-column (`pos: bigint`) DataFrame. ONE
    * partial-aggregated distinct shuffle regardless of k. */
  def bloomBuild(keys: DataFrame, hash: Column, m: Int, k: Int): DataFrame =
    keys.select(explode(array((0 until k).map(bloomPosition(hash, _, m)): _*))
        .as("pos"))
      .distinct()

  /** Relational Bloom probe: every probe row gains `bloom_hit` = true iff
    * ALL k of its positions are set. Planned as k joins against the
    * position set — broadcast (zero probe-side shuffles) while the set is
    * small enough, plain equi-joins beyond that. For a filter too big to
    * broadcast AND k large, the one-shuffle alternative is
    * posexplode + single join + groupBy-all-k-matched; with k ≤ 4 (the
    * practical range once m is sized right) the join chain wins. */
  def bloomProbe(bloom: DataFrame, probes: DataFrame, hash: Column,
      m: Int, k: Int): DataFrame = {
    val set = if (bitmapWords(m) * 8L <= (8L << 20)) broadcast(bloom) else bloom
    val withH = probes.withColumn("__h", hash)
    val joined = (0 until k).foldLeft(withH) { (df, i) =>
      df.join(set.select(col("pos").as(s"__p$i")),
        bloomPosition(col("__h"), i, m) === col(s"__p$i"), "left")
    }
    joined
      .withColumn("bloom_hit",
        (0 until k).map(i => col(s"__p$i").isNotNull).reduce(_ && _))
      .drop("__h" +: (0 until k).map(i => s"__p$i"): _*)
  }

  private def bitmapWords(m: Int): Int = (m + 63) >> 6

  // ------------------------------------------------------------ Count-Min

  /** CMS cell for `token` in hash row `seed`: rolling_hash of the seeded
    * string "s<seed> <token>" mod w. The seeded-concat construction keeps
    * the whole sketch expressible in the oracle (DuckDB computes the same
    * rolling hash of the same string). */
  def cmsCell(seed: Column, token: Column, w: Int): Column =
    pmod(TextExpressions.rolling_hash(
      concat(lit("s"), seed.cast("string"), lit(" "), token)), lit(w.toLong))

  /** Build a d×w Count-Min sketch from (token, weight) rows: the sketch IS
    * the (seed, cell) → total table — at most d·w rows after ONE groupBy,
    * regardless of input size (Cormode & Muthukrishnan, "An improved data
    * stream summary: the count-min sketch and its applications", J.
    * Algorithms 2005). Feed pre-aggregated token counts when available;
    * raw rows with weight 1 work identically. */
  def cmsBuild(tokens: DataFrame, token: Column, weight: Column,
      d: Int, w: Int): DataFrame =
    tokens.select(token.as("__t"), weight.as("__c"))
      .withColumn("seed", explode(array((0 until d).map(i => lit(i)): _*)))
      .select(col("seed"), cmsCell(col("seed"), col("__t"), w).as("cell"),
        col("__c"))
      .groupBy("seed", "cell")
      .agg(sum("__c").as("total"))

  /** Point-estimate the frequency of each distinct probe token:
    * min over the d rows of the token's cell totals. Overcounts only
    * (est ≥ true, never under) — the CMS guarantee. The d·w sketch is
    * tiny by construction → broadcast join. */
  def cmsEstimate(cms: DataFrame, probes: DataFrame, token: Column,
      d: Int, w: Int): DataFrame =
    probes.select(token.as("token")).distinct()
      .withColumn("seed", explode(array((0 until d).map(i => lit(i)): _*)))
      .withColumn("cell", cmsCell(col("seed"), col("token"), w))
      .join(broadcast(cms), Seq("seed", "cell"))
      .groupBy("token")
      .agg(min("total").as("cms_est"))

  // ------------------------------------------------------------------ KMV

  /** KMV (k-minimum-values) distinct-set signature per group and the
    * pairwise RESEMBLANCE matrix it yields — the sketch answer to "how
    * much do two crawl sources overlap?" (Beyer et al., "On synopses
    * for distinct value estimation under multiset operations", SIGMOD
    * 2007, on Broder's minwise resemblance). Per group the signature is
    * the k SMALLEST distinct content-hash values; a pair's estimate
    * recomputes the union's k smallest FROM THE TWO SIGNATURES ALONE —
    * KMV is closed under union, which is the whole point: signatures
    * combine without re-touching the corpus — and takes the fraction of
    * them present in both sides. Pure function of the hash column →
    * bit-identical on any engine, no exactness-bound hedge needed: the
    * oracle replays the estimate itself. Also emits the EXACT hash-set
    * Jaccard alongside so the sketch error is visible in the output
    * (afforded at gate SFs; at 100 TB only the signatures are kept and
    * the exact column is what you drop).
    *
    * Scale shape: one distinct shuffle on (group, hash); the per-group
    * top-k is a rank-limit filter Spark rewrites to WindowGroupLimit
    * (per-partition partial heaps BEFORE the exchange — q150's plan
    * shape); everything pairwise runs on signatures (groups × k rows,
    * metadata-sized). The exact-Jaccard legs are the only
    * corpus-sized joins and exist for transparency, not for serving. */
  /** Per-group KMV signature table (g, h): the k smallest DISTINCT
    * content-hash values per group — the persistable artifact
    * [[kmvOverlap]] derives its estimates from, exposed so signatures
    * can be built per data slice and maintained incrementally. */
  def kmvSignatures(df: DataFrame, groupCol: String, hash: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    val base = df.select(col(groupCol).as("g"), hash.cast("long").as("h"))
      .distinct()
    val wg = Window.partitionBy(col("g")).orderBy(col("h"))
    base.withColumn("rk", row_number().over(wg))
      .filter(col("rk") <= k).select(col("g"), col("h"))
  }

  /** Merge KMV signature tables — the INCREMENTAL maintenance step:
    * `minK(A ∪ B) == minK(minK(A) ∪ minK(B))` exactly (taking k smallest
    * commutes with union on the smallest-k prefix), so per-slice
    * signatures built on yesterday's corpus and today's batch combine
    * into the full-corpus signature WITHOUT re-touching either corpus —
    * a signature-sized union + rank, no data-sized work. This identity
    * is what makes KMV the sketch you can keep in a ManifestTable and
    * append to forever. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    val u = a.select(col("g"), col("h"))
      .unionByName(b.select(col("g"), col("h"))).distinct()
    val wg = Window.partitionBy(col("g")).orderBy(col("h"))
    u.withColumn("rk", row_number().over(wg))
      .filter(col("rk") <= k).select(col("g"), col("h"))
  }

  def kmvOverlap(df: DataFrame, groupCol: String, hash: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    // persist: base feeds the signature window, the group list, the
    // exact sizes, and both legs of the exact intersection; sigs feeds
    // both union legs and both semi-join probes — without the pins the
    // corpus distinct shuffle replays once per consumer (~6x)
    val base = df.select(col(groupCol).as("g"), hash.cast("long").as("h"))
      .distinct().persist()
    val wg = Window.partitionBy(col("g")).orderBy(col("h"))
    val sigs = base.withColumn("rk", row_number().over(wg))
      .filter(col("rk") <= k).select(col("g"), col("h")).persist()
    // ONE group aggregate serves both the pair matrix (its key list)
    // and the exact denominator sizes — the former separate
    // distinct-groups pass re-shuffled the corpus for a frame `sizes`
    // already contains (round 17)
    val sizes = base.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .persist()
    val gs = sizes.select(col("g"))
    val pairs = gs.select(col("g").as("src_a"))
      .join(gs.select(col("g").as("src_b")), col("src_a") < col("src_b"))
    val uni = pairs
      .join(sigs.select(col("g").as("src_a"), col("h")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h"))
      .unionByName(pairs
        .join(sigs.select(col("g").as("src_b"), col("h")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("h")))
      .distinct()
    val wu = Window.partitionBy(col("src_a"), col("src_b"))
      .orderBy(col("h"))
    val topu = uni.withColumn("rk", row_number().over(wu))
      .filter(col("rk") <= k).select(col("src_a"), col("src_b"), col("h"))
    // n_u and n_both fold into ONE pair-keyed aggregate (round 17):
    // membership flags via left joins (NULL = not in that signature)
    // replace the two semi-joins, so the union-top-k frame is
    // aggregated once instead of twice — counts are identical
    // (sigs has one row per (g, h), so the left joins cannot fan out)
    val kmvCounts = topu
      .join(sigs.select(col("g").as("src_a"), col("h"),
        lit(1).as("in_a")), Seq("src_a", "h"), "left")
      .join(sigs.select(col("g").as("src_b"), col("h"),
        lit(1).as("in_b")), Seq("src_b", "h"), "left")
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_u"),
        count(when(col("in_a") === 1 && col("in_b") === 1, 1))
          .as("n_both"))
    val inter = base.select(col("g").as("src_a"), col("h"))
      .join(base.select(col("g").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_i"))
    // pin (pair-matrix-sized), then drop caches
    val out = Pin(pairs
      .join(kmvCounts, Seq("src_a", "src_b"), "left")
      .join(sizes.select(col("g").as("src_a"), col("n").as("na")), "src_a")
      .join(sizes.select(col("g").as("src_b"), col("n").as("nb")), "src_b")
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        round(coalesce(col("n_both"), lit(0L)) /
          coalesce(col("n_u"), lit(1L)).cast("double"), 4).as("kmv_est"),
        round(coalesce(col("n_i"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("n_i"), lit(0L)))
            .cast("double"), 4).as("exact_j")))
    sigs.unpersist(false)
    sizes.unpersist(false)
    base.unpersist(false)
    out
  }

  /** Equi-join CARDINALITY estimation without running the join — the
    * optimizer-style |A ⋈ₖ B| = Σₖ cntA(k)·cntB(k) identity computed
    * over per-side key-count tables (keys-sized, never rows-sized —
    * both sides reduce in their own map-side-combined aggregate before
    * anything meets), plus a 1/`mod` deterministic key-sample estimate
    * (keep k where k % mod == 0, scale by mod — a pure function of the
    * key, so the sample replays identically on any engine, unlike a
    * random sample). This is the pre-flight a pipeline runs before an
    * expensive join to choose broadcast vs shuffle vs salt (pairs with
    * [[graft.operators.Profiling.keySkewProfile]], which finds WHICH
    * keys explode). Integer counts and products throughout — the
    * estimate AND the exact total are engine-exact; err_ppm quantifies
    * the sampling error honestly. Numeric keys only (hash string keys
    * to 64-bit first). */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, mod: Long): DataFrame = {
    require(mod >= 1, s"mod=$mod")
    val ca = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("ca"))
    val cb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("cb"))
    ca.join(cb, "k")
      .select(col("k"), (col("ca") * col("cb")).as("p"))
      .agg(sum(col("p")).as("exact_rows"),
        (sum(when(col("k") % mod === 0, col("p")).otherwise(0L)) * mod)
          .as("est_rows"))
      .select(col("exact_rows"), col("est_rows"),
        when(col("exact_rows") === 0, lit(0L))
          .otherwise(expr(
            "abs(est_rows - exact_rows) * 1000000 div exact_rows"))
          .as("err_ppm"))
  }

  /** Join-strategy auto-pick — [[joinSizeEstimate]] and
    * [[graft.operators.Profiling.keySkewProfile]] composed into the
    * decision they exist to inform: from the two keys-sized count
    * tables alone (never a row-sized pass beyond each side's one
    * map-side-combined aggregate), emit per-side row/key counts, the
    * exact join cardinality Σₖ cntA·cntB, each side's hottest-key ×100
    * ratio to its mean key size (the [[Profiling.keySkewProfile]]
    * skew_x100 statistic), and the verdict:
    *
    *   1. `broadcast` — either side fits the broadcast budget
    *      (`least(rows_a, rows_b) <= broadcastMaxRows`; at cluster
    *      scale the budget is autoBroadcastJoinThreshold ÷ avg row
    *      width);
    *   2. `salted` — too big to broadcast AND a hot key dominates
    *      (`greatest(skew) >= saltSkewX100` — the [[Salt.saltedJoin]]
    *      trigger: one reducer would own skew/100 × the mean key's
    *      work);
    *   3. `shuffle` — the default sort-merge/shuffle-hash regime.
    *
    * All-integer arithmetic (counts, integer div), so the decision —
    * not just the inputs — replays exactly in the oracle (q195).
    *
    * Overflow (ADVICE r8): est_rows (Σ ca·cb — a pre-flight for joins
    * whose output may dwarf 2⁶³) and the skew numerators
    * (max·100·keys) accumulate as DECIMAL(38,0) — exact 128-bit
    * integers, the q204 pattern — so a hot key or huge key count can
    * never wrap 64-bit math and silently flip the verdict. The emitted
    * est_rows column stays BIGINT (cast on output, after the exact
    * accumulation) to keep the report schema integral; IntegralDivide
    * on the decimal skew numerator already yields BIGINT. */
  def joinStrategyPick(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, broadcastMaxRows: Long, saltSkewX100: Long)
      : DataFrame = {
    require(broadcastMaxRows >= 0 && saltSkewX100 >= 100,
      s"broadcastMaxRows=$broadcastMaxRows saltSkewX100=$saltSkewX100")
    val ca = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("ca"))
    val cb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("cb"))
    val sa = ca.agg(sum(col("ca")).as("rows_a"),
      count(lit(1)).as("keys_a"), max(col("ca")).as("max_a"))
    val sb = cb.agg(sum(col("cb")).as("rows_b"),
      count(lit(1)).as("keys_b"), max(col("cb")).as("max_b"))
    val est = ca.join(cb, "k")
      .agg(coalesce(
        sum(col("ca").cast("decimal(38,0)") * col("cb")),
        lit(0).cast("decimal(38,0)")).cast("long").as("est_rows"))
    sa.crossJoin(broadcast(sb)).crossJoin(broadcast(est))
      .withColumn("skew_x100_a", expr(
        "CAST(max_a AS DECIMAL(38,0)) * 100 * keys_a div rows_a"))
      .withColumn("skew_x100_b", expr(
        "CAST(max_b AS DECIMAL(38,0)) * 100 * keys_b div rows_b"))
      .select(col("rows_a"), col("rows_b"), col("keys_a"), col("keys_b"),
        col("est_rows"), col("skew_x100_a"), col("skew_x100_b"),
        when(least(col("rows_a"), col("rows_b")) <= broadcastMaxRows,
            "broadcast")
          .when(greatest(col("skew_x100_a"), col("skew_x100_b"))
            >= saltSkewX100, "salted")
          .otherwise("shuffle").as("strategy"))
  }
}
