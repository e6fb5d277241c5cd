package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TextExpressions

/** Deduplication operators for large text corpora (north-star X1/X2;
  * SURVEY.md §2.12): exact, exact-Jaccard via inverted index, MinHash+LSH,
  * and SimHash banding.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash shuffle on the dedup key — 100 TB safe as-is.
  *  - exact Jaccard: inverted-index self-join on shingles — no quadratic
  *    cross join, but frequent shingles create join skew; at scale, drop
  *    stop-shingles (document frequency above a cap) first.
  *  - MinHash+LSH: constant-size signature per doc (k mins), band buckets
  *    turn near-dup search into an equi-join; only candidate pairs are
  *    verified exactly. The standard 100 TB dedup pipeline
  *    (Broder, "On the resemblance and containment of documents", 1997).
  *  - SimHash: one 64-bit fingerprint per doc, 4×16-bit band pigeonhole
  *    (hamming ≤ 3 guarantees a shared band) → equi-join candidates.
  */
object Dedup {

  /** X1 exact dedup: one representative (min id) per identical value. */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc SORTED ARRAY of distinct word-TRIGRAM shingle hashes
    * (xxhash64). Computed entirely row-local — no shuffle: the shingle
    * set of a document is bounded by its own length, so it lives happily
    * in one cell even for book-sized docs. Hashing to int64 up front
    * shrinks every downstream shuffle (8 bytes vs ~20+ byte strings) and
    * makes intersection a primitive-array operation; collision odds over
    * a corpus of n distinct shingles are ~n²/2⁶⁵ (≈1e-9 even at 10⁹
    * shingles) — far below any near-dup threshold's sensitivity.
    *
    * Shingle width is a blocking-selectivity knob: it must be large enough
    * that the shingle space dwarfs the vocabulary's collision rate, or the
    * inverted index degenerates toward all-pairs (with this corpus's ~50
    * word vocabulary, bigrams average df≈300 per shingle; trigrams ≈6). */
  def shingleArrays(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    shingled(Par.fanOut(docs), textCol, idCol)

  /** [[shingleArrays]] without the fan-out, for a side that is broadcast
    * (its partitioning is moot, and a repartition would cost a shuffle). */
  private def shingled(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextExpressions.shingle_hashes(split(col(textCol), " "), 3).as("arr"))
      .filter(size(col("arr")) >= 1) // < 3 tokens → no trigram shingles
      .withColumn("n_sh", size(col("arr")))

  /** (doc_id, shingle-hash) pairs — the exploded inverted-index view of
    * [[shingleArrays]]. */
  def shingles(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    shingleArrays(docs, textCol, idCol)
      .select(col("doc_id"), explode(col("arr")).as("shingle"))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the per-doc shingle arrays: c = |arr_a ∩ arr_b| via codegen'd
    * array_intersect, then J = c / (na + nb - c). Shared by the exact and
    * MinHash paths so both return identical shapes.
    *
    * Two joins against the doc-level table (one row per doc, NOT one row
    * per shingle) replace the former candidate×shingle explode-joins —
    * the intersection happens inside whole-stage codegen on primitive
    * long arrays instead of through a shuffle-heavy count aggregation.
    *
    * Size-ratio prefilter: J >= t forces min(|A|,|B|) >= t·max(|A|,|B|)
    * (the intersection fits in the smaller set), so mismatched-size pairs
    * are dropped BEFORE the array join — lossless, like the prefix
    * filter. */
  private def verifyPairs(candidates: DataFrame, docArr: DataFrame,
      threshold: Double): DataFrame = {
    // slim prefilter FIRST: join only the per-doc set sizes (a narrow
    // projection, ~12 bytes/doc — broadcastable into the hundreds of
    // millions of docs; beyond that drop the hint and let it shuffle,
    // still far cheaper than carrying the arrays) and discard
    // mismatched-size pairs before the joins that attach both full
    // hash arrays
    val sizes = docArr.select(col("doc_id"), col("n_sh"))
    val kept = candidates
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
        col("n_sh").as("pa"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
        col("n_sh").as("pb"))), "doc_b")
      .filter(least(col("pa"), col("pb")) >=
        lit(threshold) * greatest(col("pa"), col("pb")))
      .select(col("doc_a"), col("doc_b"))
    verifyArrays(kept, docArr, threshold)
  }

  /** Exact-Jaccard verification of (doc_a, doc_b) pairs whose sizes are
    * already known compatible: attach both hash arrays, intersect inside
    * codegen, threshold on the RAW ratio (round only on survivors).
    * The arrays are [[graft.plans.ShingleHashes]] output — sorted and
    * distinct — so the allocation-free merge-walk counter applies
    * (`sorted_intersect_count`), not the hash-set `array_intersect`. */
  private def verifyArrays(pairs: DataFrame, docArr: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(docArr.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
        col("n_sh").as("na")), "doc_a")
      .join(docArr.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("c",
        TextExpressions.sorted_intersect_count(col("arr_a"), col("arr_b")))
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** X2 exact n-gram Jaccard near-dup pairs via a PREFIX-FILTERED inverted
    * index (AllPairs/PPJoin, Bayardo et al., WWW 2007).
    *
    * A naive shingle self-join blows up quadratically on frequent shingles
    * (every shingle with document frequency d yields d² candidate rows).
    * Prefix filtering is lossless for J >= t: a qualifying pair shares
    * >= ceil(t·|A|) shingles, so A's `|A| - ceil(t·|A|) + 1` RAREST
    * shingles (global-df order) must contain a common one — indexing only
    * that prefix and probing with the full set of the other side preserves
    * every qualifying pair while shrinking the join by ~(1-t)² on the
    * frequent end. This is the difference between "works on 500 docs" and
    * "works on 10^9 docs". */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // reused below (prefix, probe side, verify) — without persist Spark
    // re-evaluates the shingling subplan per use (no DataFrame-level CSE)
    val da = shingleArrays(docs).persist()
    releaseAfter(da)(jaccardPairsPlan(da, threshold))
  }

  /** The shared pairs plan over a (possibly cached) shingle-array table.
    * Positional prefix under the hash total order: a pair with J >= t
    * shares >= ceil(t·|A|) shingles, and |A| - ceil(t·|A|) + 1 prefix
    * elements must contain one of them (pigeonhole) — valid for ANY
    * fixed global order, and the arrays are already hash-sorted, so the
    * prefix is a plain slice: no document-frequency join, no per-doc
    * rarity window. (On a skew-heavy corpus at cluster scale, ordering
    * by ascending document frequency shrinks the candidate set further —
    * that is the classic AllPairs/PPJoin refinement — at the price of a
    * dfreq join + window sort; with near-unique trigram shingles the
    * slice prefix generates ~the same candidates for 3 fewer shuffles.) */
  private def jaccardPairsPlan(da: DataFrame, threshold: Double): DataFrame = {
    val prefix = da.select(col("doc_id"), explode(slice(col("arr"), lit(1),
      (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")))
      .as("shingle"))
    val sh = da.select(col("doc_id"), explode(col("arr")).as("shingle"))
    // Measured note (local[32], sf0.1): three textbook refinements A/B'd
    // and rejected — (1) probing only lower-id prefixes (halves
    // candidates) and (2) fusing the size-ratio prefilter into the join
    // condition were both slower (~1.6-1.8s vs ~1.0s warm: per-match
    // condition work outweighs saved shuffle volume at these candidate
    // counts); (3) the AllPairs df-ASCENDING prefix order (rare shingles
    // first, via a dfreq groupBy + per-doc row_number) cut candidates only
    // 297k -> 181k on this corpus (small vocabulary => genuinely shared
    // trigrams, not df skew) while adding 2 shuffles + a window sort —
    // net slower. On a web-scale corpus with Zipfian shingle df the
    // df-ordered prefix is the one to revive first: it is lossless and
    // its win grows with df skew (Bayardo et al., WWW 2007, §3.1).
    // SHUFFLE_HASH: the probe side is the whole corpus's shingles — it can
    // never broadcast at scale, and locally the broadcast that cached-
    // relation stats would pick costs a serial driver-side hash build of
    // every shingle row (A/B cold: 2.1 s broadcast vs 1.4 s shuffle-hash).
    // Hash beats sort-merge here because candidate output needs no order.
    val candidates = prefix.as("a")
      .join(sh.hint("SHUFFLE_HASH").as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifyPairs(candidates, da, threshold)
  }

  /** [[Pin]] `result` (small: only qualifying pairs survive the
    * threshold), then drop the caches it was computed from, which would
    * otherwise stay persisted for the session. */
  private def releaseAfter(cached: DataFrame*)(result: DataFrame): DataFrame = {
    val out = Pin(result)
    cached.foreach(_.unpersist(false))
    out
  }

  /** X2 MinHash+LSH near-dup pairs, verified with exact Jaccard. With
    * k=32, bands=16×2 the candidate-recall at J=0.8 is
    * 1-(1-0.8²)¹⁶ ≈ 1-1e-7, so verified output equals [[jaccardPairs]]
    * for thresholds ≥ 0.8 (which is what the oracle checks). */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
      numHashes: Int = 32, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val prime = 2147483647L // 2^31 - 1
    val rnd = new scala.util.Random(42)
    val coefA = Array.fill(numHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val coefB = Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong)

    val da = shingleArrays(docs).persist() // reused: signatures + verification
    // Signatures are ROW-LOCAL: each doc's k mins fold over its own
    // shingle array (transform once to per-element hashes, then k
    // least-folds), so signature computation is a codegen'd projection —
    // no explode, no shuffle, no 32-way min aggregation. A/B at sf0.1:
    // 0.21s vs 0.41s warm (0.66 vs 1.47 cold) for the explode+groupBy
    // form this replaces; at corpus scale it removes the only
    // signature-stage exchange entirely.
    val maxLong = Long.MaxValue
    // persisted: the banded-bucket SELF-join below consumes sig in both
    // branches — without a pin each branch re-folds all k mins (the old
    // groupBy form got this for free via exchange reuse)
    val sig = da
      .withColumn("harr", transform(col("arr"),
        x => pmod(hash(x).cast("long"), lit(prime))))
      .select(col("doc_id") +: (0 until numHashes).map(i =>
        aggregate(col("harr"), lit(maxLong),
          (acc, h) => least(acc, pmod(h * coefA(i) + coefB(i), lit(prime))))
          .as(s"s$i")): _*)
      .persist()

    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * rows until (b + 1) * rows).map(i => col(s"s$i")): _*).as("bh"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

    val candidates = buckets.as("x")
      .join(buckets.hint("SHUFFLE_HASH").as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // exact verification restricted to candidates only
    releaseAfter(da, sig)(verifyPairs(candidates, da, threshold))
  }

  /** LSH PARAMETER AUDIT, bill side (VERDICT r15 #6 — the q284
    * blocking-audit pattern on the LSH axis): for a band/row choice
    * (b, r), the per-band CANDIDATE-PAIR BILL the banding would
    * generate — Σ_buckets C(size, 2) per band, plus bucket-shape
    * diagnostics (bucket count, singleton count, hottest bucket).
    * This is the pre-flight every 100 TB dedup run needs BEFORE
    * paying the bucket self-join: a band whose bill explodes (one
    * degenerate hot bucket — e.g. a boilerplate-dominated corpus
    * collapsing a band's signature slice) is visible here for the
    * cost of a group-by, not a join.
    *
    * The audit signature is the md5-word family (NOT the shipped
    * [[minhashLshPairs]] signature, which uses Spark's xxhash/murmur
    * and cannot replay in another engine): audit hash i of shingle
    * sh is 32-bit word (i mod 4) of md5(sh ":" (i div 4)) — one
    * [[graft.plans.HashExpressions.md5_words]] digest yields FOUR
    * coordinates (q303's digest-batching lesson), and the DuckDB
    * oracle replays every value by the hex-slice identity. Same
    * word-trigram distinct-shingle universe as [[shingleArrays]] /
    * the jaccard oracle. Minhash bucket STRUCTURE depends only on
    * hash-family exchangeability, so the audited bills are the
    * statistical twin of the shipped family's at equal (b, r) — the
    * constants are what is being audited, not the hash bits.
    *
    * Output: (band, n_docs, n_buckets, n_singletons, max_bucket,
    * pairs_bill), band-ordered.
    *
    * Scale shape: one distinct-shingle explode (corpus-token-bounded),
    * ⌈(b·r)/4⌉ digests per shingle map-side, ONE (doc)-keyed min
    * aggregate (b·r long partials), a b-way band explode of the
    * doc-sized signature frame, and two key-bounded aggregates.
    * Never a pair join — the bill PRICES the join without running it. */
  def lshBandBill(docs: DataFrame, bands: Int = 16, rowsPerBand: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands=$bands rowsPerBand=$rowsPerBand")
    val k = bands * rowsPerBand
    val nDigests = (k + 3) / 4
    val sh = Par.fanOut(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(toks) - 3), i -> " +
          "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))).as("sh"))
    val words = sh.select(col("doc_id") +:
      (0 until nDigests).map(g =>
        graft.plans.HashExpressions.md5_words(
          concat_ws(":", col("sh"), lit(g.toString))).as(s"w$g")): _*)
    val sig = words.groupBy(col("doc_id"))
      .agg(min(col("w0").getItem(0)).as("s0"),
        (1 until k).map(i =>
          min(col(s"w${i / 4}").getItem(i % 4)).as(s"s$i")): _*)
    val bandRows = sig.select(col("doc_id"), explode(array(
        (0 until bands).map(b => struct(lit(b).as("band"),
          struct((0 until rowsPerBand).map(r =>
            col(s"s${b * rowsPerBand + r}").as(s"k$r")): _*).as("key"))
        ): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
    bandRows.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum((col("c") === 1).cast("long")).as("n_singletons"),
        max(col("c")).as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("pairs_bill"))
      .orderBy(col("band"))
  }

  /** LSH PARAMETER AUDIT, curve side: the detection-probability curve
    * p(s) = 1 − (1 − s^r)^b of the banding (b, r) on a ppm similarity
    * grid — the other half of the pre-flight: the bill prices the
    * candidate join, this curve shows WHAT THE MONEY BUYS (the
    * S-curve's threshold sits near (1/b)^(1/r); for the shipped
    * (16, 2) that is s = 0.25). Evaluated in EXACT fixed-point ppm
    * longs — each power step is one multiply + one truncating div by
    * 10⁶ (sr: fold r steps from 10⁶; miss^b: fold b−1 steps), a fixed
    * integer chain both engines replay bit-identically (the q335
    * rounded-operand convention; intermediate products ≤ 10¹² never
    * overflow a long). Output: (s_ppm, p_band_ppm, p_detect_ppm).
    *
    * Scale shape: `steps` rows of driver-free arithmetic — free at
    * any scale; the audit's cost lives entirely in [[lshBandBill]]. */
  def lshDetectionCurve(spark: org.apache.spark.sql.SparkSession,
      bands: Int = 16, rowsPerBand: Int = 2, stepPpm: Long = 25000,
      steps: Int = 40): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands=$bands rowsPerBand=$rowsPerBand")
    require(stepPpm >= 1 && steps >= 1 && stepPpm * steps <= 1000000L,
      s"stepPpm=$stepPpm steps=$steps")
    spark.range(1, steps + 1)
      .select((col("id") * stepPpm).as("s_ppm"))
      .withColumn("sr_ppm", expr(
        s"aggregate(sequence(1, $rowsPerBand), 1000000L," +
          " (acc, x) -> acc * s_ppm div 1000000)"))
      .withColumn("miss_ppm", lit(1000000L) - col("sr_ppm"))
      .withColumn("mb_ppm", if (bands == 1) col("miss_ppm") else expr(
        s"aggregate(sequence(1, ${bands - 1}), miss_ppm," +
          " (acc, x) -> acc * miss_ppm div 1000000)"))
      .select(col("s_ppm"), col("sr_ppm").as("p_band_ppm"),
        (lit(1000000L) - col("mb_ppm")).as("p_detect_ppm"))
      .orderBy(col("s_ppm"))
  }

  /** Greedy near-duplicate REMOVAL: for every qualifying pair the
    * lower-id doc is kept and the higher-id doc dropped (the standard
    * keep-first approximation of transitive closure — no iterative
    * connected components, so it stays one bounded job at any scale). */
  def dropNearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    val losers = jaccardPairs(docs, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** X2 trigram-shingle CONTAINMENT pairs — sub-document detection:
    * containment C = |A ∩ B| / min(|A|, |B|) ≥ `threshold` flags a doc
    * whose shingle set is (nearly) swallowed by another even when their
    * Jaccard is tiny (a paragraph quoted inside a book), which is exactly
    * the excerpt/quotation case Jaccard dedup misses (Broder 1997 defines
    * both resemblance and containment for this reason).
    *
    * Same inverted-index + prefix-filter shape as [[jaccardPairs]], but
    * the prefix bound comes from the SMALLER side only: a qualifying pair
    * shares ≥ ceil(t·min(|A|,|B|)) shingles, so the smaller doc's
    * `|A| - ceil(t·|A|) + 1` first shingles (any fixed total order — here
    * the hash-sorted arrays) must contain a shared one (pigeonhole).
    * Every doc indexes its own prefix, and whichever side of a pair is
    * smaller guarantees the candidate — lossless. Note: NO size-ratio
    * prefilter is possible here (a 10-shingle doc fully inside a
    * 10⁶-shingle doc is a hit at any size ratio — that asymmetry is the
    * point of the measure).
    *
    * STOP-SHINGLE CAP (`dfCap`): because the size-ratio prefilter is
    * unavailable, one viral shingle with document frequency d would
    * produce ~d² candidate rows with no bound — the scale-killer of the
    * containment join. Shingles with df > dfCap are therefore dropped
    * from the INDEX side before the candidate join (the per-shingle
    * candidate volume is then ≤ df·dfCap, and ≤ dfCap² for surviving
    * shingles). Recall contract: a qualifying pair is missed ONLY if
    * every shared shingle inside the smaller doc's prefix window is
    * hotter than dfCap — boilerplate-only overlap, which is usually the
    * overlap one WANTS containment dedup to ignore. Verification is
    * unchanged (full arrays), so no false positives are introduced. The
    * default cap is far above the fixture corpus's max trigram df
    * (lossless there — the oracle pins it); at web scale, size it to the
    * candidate budget: candidates ≈ Σ_{df≤cap} df². */
  def containmentPairs(docs: DataFrame, threshold: Double,
      dfCap: Int = 10000): DataFrame = {
    val da = shingleArrays(docs).persist()
    releaseAfter(da) {
      // Recall is silently traded whenever the cap actually fires, so the
      // eager entry point measures it: one aggregation over the persisted
      // shingle cache (the same scan the anti-join's hot set needs), and a
      // warning naming the dropped-shingle count when it is nonzero.
      val nHot = hotShingles(da, dfCap).count()
      if (nHot > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"containmentPairs: dfCap=$dfCap drops $nHot hot shingle(s) " +
            "from the candidate index; pairs whose smaller-doc prefix " +
            "overlap is ONLY those shingles are missed. Raise dfCap for " +
            "lossless results.")
      containmentPairsPlan(da, threshold, dfCap)
    }
  }

  /** Shingles hotter than `dfCap` (the ones [[containmentPairsPlan]] drops
    * from its candidate index). */
  private def hotShingles(da: DataFrame, dfCap: Int): DataFrame =
    da.select(col("doc_id"), explode(col("arr")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("shingle"))

  private def containmentPairsPlan(da: DataFrame, threshold: Double,
      dfCap: Int): DataFrame = {
    val prefix = da.select(col("doc_id"), explode(slice(col("arr"), lit(1),
      (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")))
      .as("shingle"))
    val sh = da.select(col("doc_id"), explode(col("arr")).as("shingle"))
    // df prescreen on the index side only: a probe row whose shingle is
    // hot matches nothing once the hot rows are gone from the index, so
    // capping one side bounds the join without touching the other. The
    // filter is an ANTI-join against the HOT set, not an inner join
    // against the cool set: |hot| ≤ total-occurrences/dfCap (the cool
    // set is the entire vocabulary) — A/B at sf0.1: broadcasting the
    // cool vocabulary cost q117 ~3s; the hot anti-join is noise. NOTE
    // the hot bound still GROWS with the corpus (10^13 occurrences at
    // cap 10^4 → up to 10^9 hot shingles); on a corpus where that
    // exceeds the broadcast budget, drop this hint and let the anti-join
    // shuffle — the cap's candidate bound is unaffected. The df
    // aggregation itself reads the persisted shingle cache (executable
    // form) — one map-side-combined shuffle of distinct (shingle) keys,
    // the unavoidable price of learning df.
    val hot = hotShingles(da, dfCap)
    val shCapped = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val candidates = prefix.as("a")
      .join(shCapped.hint("SHUFFLE_HASH").as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    candidates
      .join(da.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
        col("n_sh").as("na")), "doc_a")
      .join(da.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("c",
        TextExpressions.sorted_intersect_count(col("arr_a"), col("arr_b")))
      .withColumn("containment", col("c") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** Connected components over an undirected (doc_a, doc_b) pair list via
    * iterative min-label propagation: every node repeatedly adopts the
    * minimum label among itself and its neighbors, converging in
    * O(component diameter) rounds — near-dup clusters are shallow (a dup
    * cluster's diameter is tiny), so this terminates in a handful of
    * rounds regardless of corpus size. Each round is one shuffle join +
    * aggregation; labels are checkpointed per round to truncate lineage
    * (the standard large-graph pattern — same propagation as GraphX/
    * Pregel CC, expressed on DataFrames).
    *
    * Returns (doc_id, component) for every doc appearing in a pair, where
    * component = min doc_id of the doc's transitive near-dup cluster.
    *
    * Each round does neighbor-min propagation PLUS pointer doubling
    * (label ← label(label), the path-halving shortcut), so the propagation
    * horizon doubles per round and convergence is O(log diameter) — a
    * million-node chain settles in ~20 rounds. If `maxIter` rounds pass
    * without a fixpoint this THROWS rather than silently returning
    * half-propagated labels. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
      Pin.scope {
    // pinned hash-partitioned on dst: every round's neighbor join keys on
    // dst, so the edge side reads the cache exchange-free (the
    // [[Graph.pageRankMicro]] pin — before this, each round re-shuffled
    // the edge-sized frame; the one extra init shuffle is paid back by
    // round 2, and rounds ≥ 2 always happen)
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().repartition(col("dst")).persist()
    val gen = Pin.loop()
    // WARM INIT: label₀ = min(self, min neighbor) — the same one-shuffle
    // aggregate the cold `select(src).distinct()` init paid (edges are
    // symmetric, so every node is a src and min(dst) is its min
    // neighbor), but it starts the propagation one hop ahead: a
    // two-node cluster converges in ONE round (the confirm round)
    // instead of two, and every deeper cluster saves that round too —
    // one fewer edge join + hop join + pin + count per CC call.
    var labels = gen(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("mn")).as("component")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // SHUFFLE_HASH: the node-sized label table is the build side; the
      // dst-pinned edge side stays exchange- and sort-free
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("component").as("nbr_c")).hint("SHUFFLE_HASH"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr_c")).as("nbr_min"))
      // pointer doubling: my label's OWN label (labels is keyed by doc_id
      // and components are doc_ids, so this is a self-join on the label)
      val hop = labels.select(col("component").as("component"),
        col("doc_id")).join(
        labels.select(col("doc_id").as("component"),
          col("component").as("label_label")), Seq("component"))
        .select(col("doc_id"), col("label_label"))
      val updated = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(hop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"),
            least(coalesce(col("nbr_min"), col("component")),
              coalesce(col("label_label"), col("component"))))
            .as("component"),
          (least(coalesce(col("nbr_min"), col("component")),
            coalesce(col("label_label"), col("component"))) < col("component"))
            .as("chg"))
      val updatedM = gen(updated)
      changed = updatedM.filter(col("chg")).count()
      labels = updatedM.drop("chg")
      iter += 1
    }
    edges.unpersist(false)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Incremental (cross-set) near-duplicate removal — the continuous-
    * ingestion production shape: an incoming batch is deduplicated
    * AGAINST an existing corpus, never against itself (in-batch dedup is
    * a separate [[exactDedup]]/[[dropNearDuplicates]] pass). Returns the
    * incoming rows that survive both gates:
    *
    *   1. exact: drop incoming docs whose text already exists (anti-join
    *      on the text key — at scale, on its fingerprint/hash);
    *   2. near: drop incoming docs with trigram Jaccard ≥ `threshold`
    *      against ANY existing doc.
    *
    * This is [[dropIncomingDuplicatesIndexed]] with the index shingled
    * in-line: the existing corpus is shingled inside the map-only stage
    * that probes it (no corpus row is broadcast, or shuffled beyond
    * [[shingleArrays]]' fan-out of an under-partitioned input), so the
    * O(corpus) work is reading `existing` and shingling it. A production
    * deployment persists that index across batches
    * ([[graft.sources.IndexStore]]) and calls the indexed form, which
    * reads the stored arrays instead of re-shingling.
    *
    * The existing corpus never loses rows — only incoming rows are
    * filtered, which is what makes the operation safe to run on every
    * micro-batch forever (same idempotence shape as the A7 upsert). */
  def dropIncomingDuplicates(existing: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame =
    dropIncomingDuplicatesIndexed(shingleArrays(existing), existing,
      incoming, threshold)

  /** [[dropIncomingDuplicates]] against a PERSISTED existing-side shingle
    * index. `existingIndex` is a [[shingleArrays]]-shaped table
    * (doc_id, arr, n_sh), usually read from storage (see
    * [[graft.sources.IndexStore]]); `existingTexts` supplies the exact-
    * text gate (the existing corpus's `text` column — at scale, a
    * fingerprint column). After the batch commits, append the survivors'
    * [[shingleArrays]] rows to the index ([[graft.sources.IndexStore.append]])
    * so the next batch probes an up-to-date corpus — an O(batch) append,
    * never a rebuild.
    *
    * Plan — ship the small batch to the corpus, never the reverse (the
    * query-side broadcast of distributed similarity search):
    *   - exact gate: the batch's (doc_id, text) rows are broadcast, and
    *     the corpus texts stream past them; a match makes a loser;
    *   - near gate: each batch doc emits one row (doc_a, arr_a, na,
    *     shingle) per PREFIX shingle, `slice(arr, 1, n − ⌈t·n⌉ + 1)` —
    *     lossless for J ≥ t by the pigeonhole argument of
    *     [[jaccardPairs]] — and these rows are broadcast; the index
    *     streams as (arr_b, nb, explode(arr)), probes them on the shingle,
    *     applies the size-ratio prefilter and keeps pairs whose exact J
    *     (`sorted_intersect_count`, inline) is ≥ t;
    *   - both corpus scans run in ONE map-only stage that emits only
    *     loser doc ids; those are collected to the driver, and the
    *     result is `incoming` filtered by that id set ([[withoutIds]]).
    * No corpus row is shuffled or broadcast, the index and the corpus
    * texts are each read once, and nothing is pinned: a caller that
    * reads the result twice reads `incoming` twice (the gated-ingest
    * sink passes a local relation, which planning folds the filter
    * into). Incoming ids may collide with corpus ids: a pair carries
    * both arrays, so no id lookup can confuse the sides.
    *
    * Driver bound: the batch passes through the driver twice, as the
    * broadcast of its texts and of its prefix shingles, and its loser
    * ids (at most one per batch doc) once more, as the collected set.
    * The near-gate broadcast holds each batch doc's array once per
    * prefix shingle, about (1−t)·n + 1 copies of an n-shingle array. On
    * q110 at sf0.1 (1000 batch docs of ~52 trigrams, t = 0.8) that is
    * 11,079 rows and an 8.7 MB hash relation; the text broadcast holds
    * one row per batch doc. A caller whose batch is too large for the
    * driver must split the batch. */
  def dropIncomingDuplicatesIndexed(existingIndex: DataFrame,
      existingTexts: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame = {
    val exactLosers = existingTexts.select(col("text"))
      .join(broadcast(incoming.select(col("doc_id"), col("text"))), "text")
      .select(col("doc_id"))
    val probe = shingled(incoming).select(col("doc_id").as("doc_a"),
      col("arr").as("arr_a"), col("n_sh").as("na"),
      explode(slice(col("arr"), lit(1),
        (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")))
        .as("shingle"))
    val nearLosers = existingIndex
      .select(col("arr").as("arr_b"), col("n_sh").as("nb"),
        explode(col("arr")).as("shingle"))
      .join(broadcast(probe), "shingle")
      .filter(least(col("na"), col("nb")) >=
        lit(threshold) * greatest(col("na"), col("nb")))
      .withColumn("c",
        TextExpressions.sorted_intersect_count(col("arr_a"), col("arr_b")))
      .filter(col("c") / (col("na") + col("nb") - col("c")) >= threshold)
      .select(col("doc_a").as("doc_id"))
    withoutIds(incoming, "doc_id", exactLosers.union(nearLosers))
  }

  /** `incoming` without the rows whose `idCol` is one of `losers`' ids
    * (its first column). The ids are collected to the driver, so
    * `losers` must be bounded by the incoming side, and applied as a
    * filter with `left_anti` semantics: a row with a null id survives,
    * and a null loser id drops nothing (in the set, it would turn the
    * `isin` of every unlisted id to null and drop the whole batch). */
  private[operators] def withoutIds(incoming: DataFrame, idCol: String,
      losers: DataFrame): DataFrame = {
    val ids = losers.collect().map(_.get(0)).filter(_ != null).distinct
    if (ids.isEmpty) incoming
    else incoming.filter(col(idCol).isNull || !col(idCol).isin(ids.toIndexedSeq: _*))
  }

  /** X2 SimHash near-dup candidates: 64-bit fingerprints, 4×16-bit bands
    * (pigeonhole-complete for hamming ≤ 3), exact hamming verification. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding only guarantees hamming <= 3")
    val sims = Par.fanOut(docs).select(col(idCol).as("doc_id"),
      TextExpressions.simhash64(split(col(textCol), " ")).as("sim"))
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sim >> ${16 * b}) & 65535").as("bv"))
    }
    val buckets = sims
      .select(col("doc_id"), col("sim"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"),
        col("bk.bv").as("bv"))
    buckets.as("x").join(buckets.hint("SHUFFLE_HASH").as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.sim ^ y.sim)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** X2 chunk-granular corpus REWRITE — drop every duplicated chunk
    * occurrence except the globally first (ordered by (doc_id, chunk_idx))
    * and reconstruct the cleaned documents: the "remove repeated passages
    * across documents" pass of C4/MassiveText-style curation, applied at
    * non-overlapping `width`-token chunks so reconstruction is
    * well-defined (q119 detects duplicated chunks; this op actually
    * removes them and rewrites the corpus).
    *
    * Scale shape — the document text never rides a dedup shuffle:
    *   1. chunk hashes (md5, fixed 32 bytes) shuffle once for the
    *      first-occurrence groupBy;
    *   2. winners travel as narrow (doc_id, chunk_idx) pairs and collapse
    *      to one kept-index ARRAY per doc (bounded by the doc's own chunk
    *      count);
    *   3. the kept-index table joins back to the source docs on doc_id —
    *      the single shuffle the text takes, and it is the output itself —
    *      and the cleaned text is RE-SLICED row-locally from the original
    *      tokens.
    * Emits (doc_id, n_chunks, n_kept, n_clean_tokens, clean_md5) — the
    * md5 commits to the exact reconstructed text without hauling it into
    * small result sets; select the re-slice expression instead of the md5
    * to materialize the rewritten corpus. */
  def chunkDedupRewrite(docs: DataFrame, width: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(width >= 1, s"width=$width")
    val chunks = TextAnalysis.chunkTokens(docs, width, width, textCol, idCol)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk_text")).as("h"))
    val winners = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_idx").as("chunk_idx"))
    val keptIdx = winners.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("chunk_idx"))).as("kept"))
    val toks = split(col(textCol), " ")
    // left join: a doc can lose EVERY chunk (all of them first occurred
    // elsewhere) and must still appear, fully emptied, in the rewrite
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .join(keptIdx, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("kept"),
        array().cast("array<int>")))
      .withColumn("clean_toks", flatten(transform(col("kept"),
        i => slice(col("toks"), i * width + lit(1), lit(width)))))
      .select(col("doc_id"),
        size(sequence(lit(1), size(col("toks")), lit(width)))
          .cast("long").as("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        size(col("clean_toks")).cast("long").as("n_clean_tokens"),
        md5(array_join(col("clean_toks"), " ")).as("clean_md5"))
  }

  /** X2 cross-document repeated SPANS at ANY alignment — the signal
    * behind suffix-array exact-substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022), computed the Spark way: every document emits the hash of
    * its width-`w` token window at EVERY position (stride 1 — arbitrary
    * alignment is the point; fixed non-overlapping chunking
    * ([[chunkDedupRewrite]]/q119) misses a dup that straddles a chunk
    * boundary), and a span is REPEATED when its hash occurs in ≥ 2
    * distinct documents. Returns the top-`topK` repeated spans with
    * their (n_docs, n_occ) statistics, ordered (n_docs DESC, n_occ
    * DESC, hash) — a deterministic total order.
    *
    * Scale shape: the stride-1 fan-out is w× the token stream in NARROW
    * (hash, doc_id) rows — the known cost of any-alignment spans (a
    * true distributed suffix array is its own system; this is the
    * bounded windowed form); ONE shuffle on the span hash with map-side
    * partial aggs; the ≥2-docs predicate runs inside the aggregation so
    * only genuinely repeated spans reach the TakeOrderedAndProject. At
    * 100 TB, run it per shard and union the (hash, doc_id) partials —
    * the same plan, sharded. */
  def repeatedSpans(docs: DataFrame, width: Int, topK: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(width >= 2 && topK >= 1, s"width=$width topK=$topK")
    val toks = split(col(textCol), " ")
    val spans = Par.fanOut(docs).select(col(idCol).as("doc_id"),
      explode(when(size(toks) >= width,
        transform(sequence(lit(1), size(toks) - width + 1),
          p => md5(array_join(slice(toks, p, lit(width)), " "))))
        .otherwise(array().cast("array<string>"))).as("h"))
    spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("h"))
      .limit(topK)
  }

  /** EXACT cross-source content-overlap matrix — the ground-truth
    * counterpart of the KMV-sketched resemblance matrix
    * ([[Sketches.kmvOverlap]]): for every pair of crawl sources, the
    * exact count of shared distinct word `n`-grams and the resulting
    * set Jaccard. The sketch answers "which pairs overlap, cheaply";
    * this answers "by exactly how much" for the audit that follows.
    * Zero-overlap pairs are emitted too (the report is the full
    * matrix, like the sketch's).
    *
    * Scale shape: one dedup to distinct (source, gram) rows, then an
    * inverted self-join on the gram hash whose per-key fan-out is
    * bounded by the SOURCE count (≤ |sources|² pairs per gram after
    * the distinct), not by document frequency — the reason this stays
    * exact where doc-level pairing needs prefix filters. The pair
    * frame is |sources|²-sized: metadata, not data. */
  def sourceOverlapExact(docs: DataFrame, n: Int,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    // persist: grams feeds the per-source counts AND both sides of
    // the inverted self-join — without the pin the n-gram explode +
    // distinct shuffle replays three times
    val grams = sourceGrams(docs, n, srcCol, textCol).persist()
    releaseAfter(grams)(sourceOverlapPlan(grams))
  }

  private def sourceGrams(docs: DataFrame, n: Int, srcCol: String,
      textCol: String): DataFrame = {
    require(n >= 1, s"n=$n")
    val toks = split(col(textCol), " ")
    Par.fanOut(docs)
      .select(col(srcCol).as("src"),
        explode(when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - n + 1),
            p => md5(array_join(slice(toks, p, lit(n)), " "))))
          .otherwise(array().cast("array<string>"))).as("h"))
      .distinct()
  }

  private def sourceOverlapPlan(grams: DataFrame): DataFrame = {
    val counts = grams.groupBy(col("src"))
      .agg(count(lit(1)).as("n_grams"))
    val shared = grams.as("a")
      .join(grams.hint("SHUFFLE_HASH").as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    counts.select(col("src").as("src_a"), col("n_grams").as("n_a"))
      .join(counts.select(col("src").as("src_b"), col("n_grams").as("n_b")),
        col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) /
          (col("n_a") + col("n_b") - coalesce(col("n_shared"), lit(0L))), 6)
          .as("jacc"))
  }

  /** Multi-signal near-dup EVIDENCE report — the triage table a dedup
    * reviewer reads before trusting a threshold: for every candidate
    * pair at J ≥ `threshold`, the shingle-set sizes, the exact shared
    * count, Jaccard, CONTAINMENT (shared / smaller set — catches the
    * quote-inside-a-larger-doc case Jaccard dilutes), and the size
    * ratio (small/large — near-1 for true mirrors, small for subset
    * relations). One inverted-index shuffle; the J filter compares the
    * RAW ratio (both engines compute the identical exactly-rounded
    * double from the same integers, so no rounding boundary exists). */
  def dedupEvidence(docs: DataFrame, threshold: Double): DataFrame = {
    val da = shingleArrays(docs).persist()
    releaseAfter(da)(dedupEvidencePlan(da, threshold))
  }

  private def dedupEvidencePlan(da: DataFrame,
      threshold: Double): DataFrame = {
    val sh = da.select(col("doc_id"), explode(col("arr")).as("shingle"))
    val sizes = da.select(col("doc_id"), col("n_sh"))
    val inter = sh.as("a")
      .join(sh.hint("SHUFFLE_HASH").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val jac = col("n_shared") /
      (col("n_a") + col("n_b") - col("n_shared"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        "doc_b")
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(jac, 4).as("jaccard"),
        round(col("n_shared") / least(col("n_a"), col("n_b")), 4)
          .as("containment"),
        round(least(col("n_a"), col("n_b")) /
          greatest(col("n_a"), col("n_b")), 4).as("len_ratio"))
  }

  /** Quality-canonical representative per near-dup CLUSTER — the
    * curation-grade refinement of min-id canonicalization: build the
    * J ≥ `threshold` pair graph ([[jaccardPairs]]), close it
    * transitively ([[connectedComponents]]), then keep the member with
    * the HIGHEST quality score (distinct-token ratio, the lexical-
    * diversity signal of `TextAnalysis.withQuality`) rather than the
    * arbitrary smallest id — near-dup clusters routinely mix a clean
    * original with truncated/boilerplate-padded copies, and training
    * wants the clean one. Ties (equal 6-dp score) break to the smaller
    * doc_id — a total order both engines replay.
    *
    * Output: one row per multi-member cluster — (component, canon_id,
    * canon_q, n_members). Singleton docs are their own canonical and
    * are omitted (the report is about CHOICES, not the corpus).
    *
    * Scale shape: pair building is the inverted-index path (no
    * all-pairs); the quality score is row-local; the argmax is one
    * window over components — partitions are cluster-sized (small by
    * construction: clusters are near-dup groups), so no single-reducer
    * hotspot. */
  def canonicalByQuality(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
      Pin.scope {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(jaccardPairs(docs, threshold))
    val toks = split(col(textCol), " ")
    val q = docs.select(col(idCol).as("doc_id"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 6)
        .as("q_score"))
    val byComp = Window.partitionBy(col("component"))
    val pick = byComp.orderBy(col("q_score").desc, col("doc_id"))
    comp.join(q, "doc_id")
      .withColumn("rn", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("canon_id"),
        col("q_score").as("canon_q"), col("n_members"))
  }

  /** X2 FUZZY near-dup pairs by exact edit distance: every (a < b)
    * pair within `maxDist` Levenshtein operations — the typo/OCR-noise
    * dedup signal that set-based Jaccard (insensitive to character
    * order) and SimHash miss. Classic blocking-then-verify:
    * candidates share their first `blockPrefix` characters AND differ
    * in length by ≤ maxDist (|len_a − len_b| is a lower bound on edit
    * distance, so the length band is lossless pruning); only candidates
    * pay the verify, and in two tiers: equal texts short-circuit to
    * dist 0 with an O(len) memcmp (on replicated corpora that is
    * nearly every candidate), survivors pay the THRESHOLD
    * `levenshtein` (banded DP, early-exit −1 past maxDist) — a
    * codegen'd built-in in Spark and the identical metric in DuckDB
    * within the band, so every emitted pair replays. Blocks
    * with more than `maxBlock` members are SKIPPED (boilerplate-prefix
    * hot blocks — the stop-shingle analog; a skipped block means those
    * pairs are reported by the shingle/MinHash path instead, not
    * silently by nobody). The skip is OBSERVABLE, not silent: run
    * [[fuzzyBlockAudit]] on the same arguments for the exact count of
    * hot blocks and the rows they cover (VERDICT r8 #2 — the
    * no-silent-caps rule). Documents with NULL `text` are EXCLUDED
    * (filtered up front): a NULL has no prefix block and no edit
    * distance to anything, so it can appear in no pair — the audit
    * reports how many were dropped (ADVICE r8). Prefix blocking
    * assumes edits are not concentrated in the first `blockPrefix`
    * chars — the standard trade-off; widen recall with a second pass
    * on a suffix block if the corpus needs it.
    *
    * Scale: one block-keyed self-join whose fan-out is Σ_block n², with
    * n ≤ maxBlock by construction — no all-pairs join at any corpus
    * size. */
  def fuzzyPairs(docs: DataFrame, maxDist: Int, blockPrefix: Int = 12,
      maxBlock: Int = 1000): DataFrame = {
    require(maxDist >= 1 && blockPrefix >= 1 && maxBlock >= 2,
      s"maxDist=$maxDist blockPrefix=$blockPrefix maxBlock=$maxBlock")
    val t = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        length(col("text")).as("len"),
        substring(col("text"), 1, blockPrefix).as("blk"))
    val small = t.join(
      t.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= maxBlock).select(col("blk")),
      Seq("blk"), "left_semi")
    val a = small.select(col("blk"), col("doc_id").as("doc_a"),
      col("text").as("ta"), col("len").as("la"))
    val b = small.select(col("blk"), col("doc_id").as("doc_b"),
      col("text").as("tb"), col("len").as("lb"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("la") - col("lb")) <= maxDist)
      // equal texts short-circuit to 0 (memcmp, the dominant case on
      // replicated corpora); survivors pay the THRESHOLD levenshtein
      // (banded DP, early-exit -1 past maxDist — hence dist >= 0)
      .withColumn("dist", when(col("ta") === col("tb"), 0)
        .otherwise(levenshtein(col("ta"), col("tb"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** TWO-SIDED [[fuzzyPairs]] — the suffix-block recall pass its
    * scaladoc promises: prefix blocking misses pairs whose edits fall
    * in the first `blockPrefix` chars (a corrected typo in word one),
    * so this variant also blocks on the first `blockPrefix` chars of
    * the REVERSED text (= the suffix, via `reverse` — identical in
    * both engines, unlike negative-index substring semantics) and
    * verifies the UNION of candidates. A pair within `maxDist` edits
    * is now missed only if edits touch BOTH ends — strictly wider
    * recall at ≤ 2× the blocking cost. Candidates are deduped on
    * (doc_a, doc_b) BEFORE the O(len²) `levenshtein`, so a pair
    * sharing both blocks pays one verification. Same hot-block cap
    * per side ([[fuzzyBlockAudit]] with the same args audits the
    * prefix side; run it on reversed text for the suffix side), same
    * NULL-text exclusion, same (doc_a, doc_b, dist) output. */
  def fuzzyPairsTwoSided(docs: DataFrame, maxDist: Int,
      blockPrefix: Int = 12, maxBlock: Int = 1000): DataFrame = {
    require(maxDist >= 1 && blockPrefix >= 1 && maxBlock >= 2,
      s"maxDist=$maxDist blockPrefix=$blockPrefix maxBlock=$maxBlock")
    def candidates(blkExpr: org.apache.spark.sql.Column): DataFrame = {
      val t = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          length(col("text")).as("len"), blkExpr.as("blk"))
      val small = t.join(
        t.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBlock).select(col("blk")),
        Seq("blk"), "left_semi")
      val a = small.select(col("blk"), col("doc_id").as("doc_a"),
        col("text").as("ta"), col("len").as("la"))
      val b = small.select(col("blk"), col("doc_id").as("doc_b"),
        col("text").as("tb"), col("len").as("lb"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b") &&
          abs(col("la") - col("lb")) <= maxDist)
        .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
    }
    candidates(substring(col("text"), 1, blockPrefix))
      .unionByName(candidates(
        substring(reverse(col("text")), 1, blockPrefix)))
      .dropDuplicates("doc_a", "doc_b")
      // same equality short-circuit + threshold verify as [[fuzzyPairs]]
      .withColumn("dist", when(col("ta") === col("tb"), 0)
        .otherwise(levenshtein(col("ta"), col("tb"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** COVERAGE AUDIT of [[fuzzyPairs]] — what the cap and the NULL
    * filter excluded, as one exact-integer row: total docs, docs with
    * NULL text (never in any pair), total prefix blocks, blocks over
    * `maxBlock` (their intra-block pairs are skipped — recall owed to
    * the shingle/MinHash path), and the rows those hot blocks cover.
    * The no-silent-caps companion (VERDICT r8 #2): publish this row
    * next to the pairs so a reader knows exactly how much of the
    * corpus the edit-distance pass screened. Cost: one row-sized
    * aggregate + one blocks-sized aggregate — strictly cheaper than
    * [[fuzzyPairs]] itself; same `blockPrefix`/`maxBlock` arguments
    * MUST be passed to audit the same run. */
  def fuzzyBlockAudit(docs: DataFrame, blockPrefix: Int = 12,
      maxBlock: Int = 1000): DataFrame = {
    require(blockPrefix >= 1 && maxBlock >= 2,
      s"blockPrefix=$blockPrefix maxBlock=$maxBlock")
    val totals = docs.agg(count(lit(1)).as("n_docs"),
      count(when(col("text").isNull, 1)).as("n_null_text"))
    val blocks = docs.filter(col("text").isNotNull)
      .groupBy(substring(col("text"), 1, blockPrefix).as("blk"))
      .agg(count(lit(1)).as("bn"))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("bn") > maxBlock, 1)).as("n_hot_blocks"),
        coalesce(sum(when(col("bn") > maxBlock, col("bn"))), lit(0L))
          .cast("long").as("n_hot_rows"))
    totals.crossJoin(broadcast(blocks))
      .select(col("n_docs"), col("n_null_text"), col("n_blocks"),
        col("n_hot_blocks"), col("n_hot_rows"))
  }

  /** [[fuzzyBlockAudit]] for BOTH blocking sides of
    * [[fuzzyPairsTwoSided]] — one row per side: 'prefix' audits the
    * forward blocks, 'suffix' audits blocks of the REVERSED text
    * (exactly the second candidate generator that pass runs), so the
    * published coverage describes the two-sided run completely; a
    * block hot on one side can be cold on the other, which is the
    * whole point of blocking twice. Same args contract: pass the
    * `blockPrefix`/`maxBlock` of the audited run. */
  def fuzzyBlockAuditTwoSided(docs: DataFrame, blockPrefix: Int = 12,
      maxBlock: Int = 1000): DataFrame = {
    val p = fuzzyBlockAudit(docs, blockPrefix, maxBlock)
      .select(lit("prefix").as("side"), col("*"))
    val s = fuzzyBlockAudit(
        docs.withColumn("text", reverse(col("text"))), blockPrefix,
        maxBlock)
      .select(lit("suffix").as("side"), col("*"))
    p.unionByName(s)
  }

  /** SORTED-NEIGHBORHOOD pairs (Hernández & Stolfo, SIGMOD 1995) — the
    * third classic blocking family beside [[fuzzyPairs]]' equality
    * blocks and [[jaccardPairs]]' shingle inversion: sort the corpus
    * by the text itself and verify only records within `w` positions
    * of each other, so near-identical strings that share no EXACT
    * 12-char prefix (e.g. a one-char edit inside the prefix) still
    * meet if they sort adjacently. Windowing runs WITHIN
    * `prefixLen`-char sort-key partitions — the distributed form: each
    * partition sorts independently and pairs never cross partitions,
    * which is SNM's documented boundary-loss tradeoff (run multi-pass
    * with a second key — e.g. reversed text — to recover, exactly the
    * [[fuzzyPairsTwoSided]] trick). Candidates verify with one
    * `levenshtein`; output (doc_a < doc_b, dist), each unordered pair
    * once (it appears at one rank distance only).
    *
    * Scale shape: ONE shuffle on the sort-key prefix and one
    * in-partition sort, shared by all w `lead(·, i)` neighbor columns
    * (same window spec → one Window exec); the window emits each
    * record's next-w neighbors directly, so there is NO self-join —
    * the candidate fan-out is a map-side array+explode. O(n·w)
    * candidates by construction, no quadratic block risk at all (the
    * hot-block cap problem this family simply does not have). The
    * candidate frame is REBALANCE-hinted before the levenshtein
    * verify: the window's output is partitioned by the coarse prefix
    * (parallelism capped at |distinct blocks|, skewed by hot
    * prefixes), while the verify is the dominant per-row cost on a
    * replicated corpus — AQE splits/coalesces the exchange so the
    * verify runs at full width (measured on the 100× planted-prefix
    * slice: 200 s / 2.6× task skew → full-width verify; a no-op at
    * small scale where AQE coalesces it away). */
  def sortedNeighborhoodPairs(docs: DataFrame, w: Int, maxDist: Int,
      prefixLen: Int = 2): DataFrame = {
    require(w >= 1 && maxDist >= 1 && prefixLen >= 1,
      s"w=$w maxDist=$maxDist prefixLen=$prefixLen")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("text"), col("doc_id"))
    val r = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, prefixLen).as("blk"))
    // every lead shares `win`'s single sort; a neighbor past the
    // partition end is NULL and drops in the filter below (the window
    // exprs resolve in their own projection — generators can't nest
    // unresolved window functions)
    val led = r.select((col("doc_id").as("ia") +: col("text").as("ta") +:
      (1 to w).map(i => struct(
        lead(col("doc_id"), i).over(win).as("ib"),
        lead(col("text"), i).over(win).as("tb")).as(s"nb_$i"))): _*)
    val nbrs = led.select(col("ia"), col("ta"),
      explode(array((1 to w).map(i => col(s"nb_$i")): _*)).as("nb"))
    // length band BEFORE the O(len²) verify (|la−lb| ≤ dist always,
    // so no pair is lost), and the THRESHOLD levenshtein (early-exits
    // at maxDist+1, returns −1 past it) — without both, sort-adjacent
    // long texts make the verify the whole wall-clock (bench r10:
    // 648 s → ~1 s at sf0.1)
    nbrs
      .select(col("ia"), col("ta"), col("nb.ib").as("ib"),
        col("nb.tb").as("tb"))
      .filter(col("ib").isNotNull &&
        abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .hint("rebalance")
      // equal texts short-circuit to 0 — an O(len) memcmp instead of
      // the ~100 µs banded DP; on a replicated corpus near all
      // candidates are exact copies (x10 slice: 175k of 180k — this
      // one branch is 36 s → 1.4 s of the verify stage)
      .withColumn("dist", when(col("ta") === col("tb"), 0)
        .otherwise(levenshtein(col("ta"), col("tb"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("dist"))
  }

  /** FELLEGI–SUNTER PAIR SCORING, exact integer — the probabilistic
    * record-linkage join [[linkageFieldWeights]] calibrates: candidate
    * pairs (same `block`, id_a < id_b — BLOCKED, never all-pairs)
    * scored by the product of per-field evidence odds,
    *
    *   score = Π_k (agree_k ? m/u_k : (1−m)/(1−u_k))
    *
    * carried entirely in ppm INTEGERS (odds_ppm = m_ppm·10⁶ div u_ppm
    * etc., product in DECIMAL(38,0)) so the score is engine-exact with
    * no float in the chain at all — 10⁶ᵏ is the neutral score (every
    * field's evidence exactly cancelling); `minScorePp` defaults to it,
    * returning pairs with NET POSITIVE match evidence. u_k comes from
    * the same exact value histogram as [[linkageFieldWeights]], clamped
    * to [1, 10⁶−1] ppm (an all-unique or all-identical field would
    * otherwise make one branch's odds undefined — the PSI ppm-clamp
    * rule). Fields with a NULL value on either side contribute
    * NEUTRAL evidence (10⁶ — abstention, the [[graft.operators
    * .Labeling.conflictMatrix]] convention). Output per candidate
    * pair: (id_a, id_b, n_agree, score_pp), score-descending.
    *
    * Scale shape: ONE u-histogram aggregate broadcast as a 1-row
    * frame, one blocked self equi-join (choose a block key with
    * cluster-scale cardinality — a 25-value block key is a demo; a
    * phonetic/prefix key is the production shape), map-only scoring.
    * No all-pairs product ever forms. */
  def linkagePairScores(df: DataFrame, id: String, block: String,
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long = 950000L,
      minScorePp: Option[java.math.BigDecimal] = None): DataFrame = {
    linkageChecks(fields, mPpm)
    linkageScoredPairs(linkageBase(df, id, block, fields),
        linkageURow(df, fields), fields, mPpm, minScorePp)
      .orderBy(col("score_pp").desc, col("id_a"), col("id_b"))
  }

  private def linkageChecks(
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long): Unit = {
    require(fields.nonEmpty && fields.size <= 3,
      s"1..3 comparison fields (odds_ppm^k must fit DECIMAL(38)), " +
        s"got ${fields.size}")
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate field names in ${fields.map(_._1)}")
    require(mPpm >= 1 && mPpm <= 999999, s"mPpm=$mPpm")
  }

  /** (pid, blk, f_*) projection of the linkage input — the null-id /
    * null-block rows can never pair and are dropped here. */
  private def linkageBase(df: DataFrame, id: String, block: String,
      fields: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    df.filter(col(id).isNotNull && col(block).isNotNull)
      .select(Seq(col(id).as("pid"), col(block).as("blk")) ++
        fields.map { case (n, c) => c.cast("string").as(s"f_$n") }: _*)

  /** Stage 1 of [[linkagePairScores]]: clamped per-field u_ppm, ONE
    * stacked histogram scan pivoted to a single broadcastable row.
    * Computed from the FULL table (before the id/block null filter) —
    * the exact same value histogram [[linkageFieldWeights]] sees: a
    * record with a NULL id can't pair, but its field values still
    * shape the population's chance-agreement rates (ADVICE r12). */
  private def linkageURow(df: DataFrame,
      fields: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    df.select(explode(array(fields.map { case (n, c) =>
        struct(lit(n).as("f"), c.cast("string").as("v")) }: _*)).as("s"))
      .select(col("s.f").as("f"), col("s.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("f"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("f"))
      .agg(sum(col("c")).as("n"),
        sum(dec(col("c")) * (col("c") - 1)).as("ap"))
      .agg(linkageUCol(fields.head._1),
        fields.tail.map(f => linkageUCol(f._1)): _*)
  }

  /** Stage 2 of [[linkagePairScores]]: blocked pairs over `base`,
    * map-only integer scoring against the broadcast `uRow`, cut
    * filter. Unordered — callers order (or feed the CC walk). */
  private def linkageScoredPairs(base: DataFrame, uRow: DataFrame,
      fields: Seq[(String, org.apache.spark.sql.Column)], mPpm: Long,
      minScorePp: Option[java.math.BigDecimal],
      keepEvidence: Boolean = false): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val a = base.select(Seq(col("pid").as("id_a"), col("blk")) ++
      fields.map { case (n, _) => col(s"f_$n").as(s"a_$n") }: _*)
    val b = base.select(Seq(col("pid").as("id_b"), col("blk")) ++
      fields.map { case (n, _) => col(s"f_$n").as(s"b_$n") }: _*)
    val pairs = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(uRow))
    val neutral = dec(lit(1000000L))
    def fieldScore(n: String) = {
      val mOdds = expr(s"cast($mPpm as decimal(38,0)) * 1000000" +
        s" div u_$n")
      val nmOdds = expr(s"cast(${1000000L - mPpm} as decimal(38,0))" +
        s" * 1000000 div (1000000 - u_$n)")
      when(col(s"a_$n").isNull || col(s"b_$n").isNull, neutral)
        .when(col(s"a_$n") === col(s"b_$n"), dec(mOdds))
        .otherwise(dec(nmOdds))
    }
    val score = fields.map { case (n, _) => fieldScore(n) }
      .reduce((x, y) => dec(x * y))
    val nAgree = fields.map { case (n, _) =>
      (col(s"a_$n").isNotNull && col(s"b_$n").isNotNull &&
        col(s"a_$n") === col(s"b_$n")).cast("int") }.reduce(_ + _)
    val cut = minScorePp.map(v => lit(v).cast("decimal(38,0)"))
      .getOrElse(dec(lit(java.math.BigDecimal.valueOf(1000000L)
        .pow(fields.size))))
    val evidence =
      if (!keepEvidence) Nil
      else fields.flatMap { case (n, _) => Seq(
        col(s"a_$n"), col(s"b_$n"),
        // a per-FIELD odds always fits int64 (max mPpm·10⁶ at the
        // 1 ppm u clamp)
        fieldScore(n).cast("bigint").as(s"odds_$n")) }
    pairs
      .select(Seq(col("id_a"), col("id_b"), nAgree.as("n_agree"),
        score.cast("decimal(38,0)").as("score_pp")) ++ evidence: _*)
      .filter(col("score_pp") > cut)
  }

  /** PER-FIELD EVIDENCE READOUT on the passing pairs — the data
    * behind Splink's waterfall chart: for every net-positive pair,
    * one row PER COMPARISON FIELD naming its state (agree / disagree
    * / abstain) and the exact odds_ppm that multiplied into the
    * score (abstentions read the neutral 10⁶) — "which field's
    * evidence carried this match" made queryable, the explainability
    * rung reviewers of a linkage decision actually ask for. The
    * product of a pair's odds rows over 10⁶ᵏ⁻¹ reproduces its
    * [[linkagePairScores]] score exactly.
    *
    * Scale shape: [[linkagePairScores]]' blocked join + map-only
    * scoring, then a k-wide generator explode on the PASSING pairs
    * only — output-sized work. */
  def linkagePairEvidence(df: DataFrame, id: String, block: String,
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long = 950000L,
      minScorePp: Option[java.math.BigDecimal] = None): DataFrame = {
    linkageChecks(fields, mPpm)
    val scored = linkageScoredPairs(linkageBase(df, id, block, fields),
      linkageURow(df, fields), fields, mPpm, minScorePp,
      keepEvidence = true)
    val fieldStructs = fields.map { case (n, _) =>
      struct(lit(n).as("field"),
        when(col(s"a_$n").isNull || col(s"b_$n").isNull, lit("abstain"))
          .when(col(s"a_$n") === col(s"b_$n"), lit("agree"))
          .otherwise(lit("disagree")).as("state"),
        col(s"odds_$n").as("odds_ppm"))
    }
    scored
      .select(col("id_a"), col("id_b"),
        explode(array(fieldStructs: _*)).as("e"))
      .select(col("id_a"), col("id_b"), col("e.field").as("field"),
        col("e.state").as("state"), col("e.odds_ppm").as("odds_ppm"))
      .orderBy(col("id_a"), col("id_b"), col("field"))
  }

  /** BLOCKING PRE-FLIGHT AUDIT — Splink's "count comparisons" step:
    * the exact candidate-pair bill a block key will generate, BEFORE
    * any pair forms. One row per audited key: record/block counts,
    * Σ c·(c−1)/2 candidate pairs (exact, DECIMAL), the largest
    * block, the largest block's share of all candidates (ppm), and
    * the reduction ratio vs the unblocked n·(n−1)/2 cross product
    * (ppm). This is the operator form of SCALING.md's q276 lesson:
    * the coarse 25-value nation block reads ~4.5M pairs at sf0.1
    * where the shipped fine composite reads ~41k — and the audit
    * costs ONE key-sized aggregate, not the quadratic it predicts.
    * Run it before every linkage job; a candidate count that grows
    * faster than records round-over-round is the R² signature.
    *
    * Scale shape: one groupBy(block) count (map-side combined) per
    * key, then a blocks-sized aggregate — never a pair. */
  def linkageBlockAudit(df: DataFrame, id: String,
      blocks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(blocks.nonEmpty, "at least one block key to audit")
    require(blocks.map(_._1).distinct.size == blocks.size,
      s"duplicate block-key names in ${blocks.map(_._1)}")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    blocks.map { case (name, blockCol) =>
      val sizes = df.filter(col(id).isNotNull && blockCol.isNotNull)
        .select(blockCol.cast("string").as("blk"))
        .groupBy(col("blk")).agg(count(lit(1)).as("c"))
      sizes.agg(
          sum(col("c")).cast("bigint").as("n_records"),
          count(lit(1)).cast("bigint").as("n_blocks"),
          sum(dec(col("c")) * (col("c") - 1)).as("p2"),
          max(col("c")).cast("bigint").as("max_block"),
          max(dec(col("c")) * (col("c") - 1)).as("mp2"))
        .select(lit(name).as("block_key"), col("n_records"),
          col("n_blocks"),
          expr("cast(p2 div 2 as bigint)").as("candidate_pairs"),
          col("max_block"),
          expr("case when p2 > 0 then cast(mp2 * 1000000 div p2" +
            " as bigint) else 0L end").as("hot_block_pairs_ppm"),
          expr("case when n_records > 1 then cast(p2 * 1000000 div" +
            " (cast(n_records as decimal(38,0)) * (n_records - 1))" +
            " as bigint) else 0L end").as("vs_allpairs_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** TERM-FREQUENCY-ADJUSTED PAIR SCORING — Splink's `tf_adjustments`
    * rung over [[linkagePairScores]]: an agreement's evidence uses the
    * AGREED VALUE's own chance-agreement rate instead of the field
    * average,
    *
    *   u_v = c_v·(c_v − 1) / (n_k·(n_k − 1))   (clamped [1, 10⁶−1] ppm)
    *
    * so two records sharing a RARE value (c_v small → u_v near the
    * 1 ppm clamp) score far higher than two sharing the field's most
    * common value — the "agreeing on 'John' means less than agreeing
    * on 'Thaddeus'" correction. Disagreements keep the field-level
    * non-match odds (a disagreement names no value to adjust by);
    * NULLs abstain at neutral, exactly as in the unadjusted form. All
    * arithmetic stays exact-integer ppm — no float anywhere.
    *
    * Scale shape: the per-(field, value) count table (the same
    * histogram [[linkageFieldWeights]] scans, full-table per ADVICE
    * r12) joins each RECORD once per field — record-linear, never
    * pair-sized; an agreeing pair then reads the value count off its
    * own row (both sides carry the same value, hence the same count).
    * A value covering a large share of records concentrates that
    * join's key — the same contract as any aggregate keyed on the
    * value; the pair stage is unchanged from [[linkagePairScores]]. */
  def linkagePairScoresTf(df: DataFrame, id: String, block: String,
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long = 950000L,
      minScorePp: Option[java.math.BigDecimal] = None): DataFrame = {
    linkageChecks(fields, mPpm)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val base = linkageBase(df, id, block, fields)
    val uRow = linkageURow(df, fields)
    // per-(field, value) counts + per-field totals from the FULL table
    val cnt = df
      .select(explode(array(fields.map { case (n, c) =>
        struct(lit(n).as("f"), c.cast("string").as("v")) }: _*)).as("s"))
      .select(col("s.f").as("f"), col("s.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("f"), col("v")).agg(count(lit(1)).as("c"))
    val nRow = cnt.groupBy(col("f")).agg(sum(col("c")).as("fn"))
      .agg(max(when(col("f") === fields.head._1, col("fn")))
          .as(s"n_${fields.head._1}"),
        fields.tail.map(fd => max(when(col("f") === fd._1, col("fn")))
          .as(s"n_${fd._1}")): _*)
    // record-side tf: each record carries its own value's count c_k
    val bt = fields.foldLeft(base) { case (acc, (n, _)) =>
      acc.join(cnt.filter(col("f") === n)
        .select(col("v").as(s"f_$n"), col("c").as(s"c_$n")),
        Seq(s"f_$n"), "left")
    }
    val a = bt.select(Seq(col("pid").as("id_a"), col("blk")) ++
      fields.flatMap { case (n, _) => Seq(col(s"f_$n").as(s"a_$n"),
        col(s"c_$n").as(s"ac_$n")) }: _*)
    val b = bt.select(Seq(col("pid").as("id_b"), col("blk")) ++
      fields.map { case (n, _) => col(s"f_$n").as(s"b_$n") }: _*)
    val pairs = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(uRow.crossJoin(nRow)))
    val neutral = dec(lit(1000000L))
    def fieldScore(n: String) = {
      // value-level u for the agreed value, same clamp shape as the
      // field-level linkageUCol (500000 fallback when n_k < 2)
      val uv = s"greatest(1L, least(999999L, if(" +
        s"cast(n_$n as decimal(38,0)) * (n_$n - 1) > 0, " +
        s"cast(cast(ac_$n as decimal(38,0)) * (ac_$n - 1) * 1000000 " +
        s"div (cast(n_$n as decimal(38,0)) * (n_$n - 1)) as bigint), " +
        s"500000L)))"
      val mOdds = expr(s"cast($mPpm as decimal(38,0)) * 1000000" +
        s" div ($uv)")
      val nmOdds = expr(s"cast(${1000000L - mPpm} as decimal(38,0))" +
        s" * 1000000 div (1000000 - u_$n)")
      when(col(s"a_$n").isNull || col(s"b_$n").isNull, neutral)
        .when(col(s"a_$n") === col(s"b_$n"), dec(mOdds))
        .otherwise(dec(nmOdds))
    }
    val score = fields.map { case (n, _) => fieldScore(n) }
      .reduce((x, y) => dec(x * y))
    val nAgree = fields.map { case (n, _) =>
      (col(s"a_$n").isNotNull && col(s"b_$n").isNotNull &&
        col(s"a_$n") === col(s"b_$n")).cast("int") }.reduce(_ + _)
    val cut = minScorePp.map(v => lit(v).cast("decimal(38,0)"))
      .getOrElse(dec(lit(java.math.BigDecimal.valueOf(1000000L)
        .pow(fields.size))))
    pairs
      .select(col("id_a"), col("id_b"), nAgree.as("n_agree"),
        score.cast("decimal(38,0)").as("score_pp"))
      .filter(col("score_pp") > cut)
      .orderBy(col("score_pp").desc, col("id_a"), col("id_b"))
  }

  /** GRADED COMPARISON LEVELS — Splink's multi-level comparisons over
    * [[linkagePairScores]]' binary agree/disagree: each field grades a
    * pair into ordered LEVELS (e.g. a numeric's exact / close / far),
    * first matching level wins, the LAST level is the unconditional
    * fallback. Per level ℓ the evidence odds are m_ℓ/u_ℓ where m_ℓ is
    * the caller's P(level | match) in ppm (must sum to 10⁶ per field —
    * levels partition the match class) and u_ℓ is ESTIMATED FROM THE
    * CANDIDATE POPULATION: the share of blocked pairs at that level
    * (Splink's estimate-u-from-random-pairs, specialized to the
    * blocked population a leveled predicate like |Δ| ≤ τ is actually
    * scored against — a record-value histogram cannot price a
    * two-sided predicate; the binary form's histogram u is
    * [[linkagePairScores]]). u clamps to [1, 10⁶−1] ppm; a field with
    * a NULL on either side abstains at neutral 10⁶. Score = exact
    * DECIMAL product of the per-level odds_ppm; pairs above
    * `minScorePp` (default the 10⁶ᵏ neutral) survive. Output:
    * (id_a, id_b, one level-name column per field, score_pp).
    *
    * Scale shape: the same ONE blocked self equi-join evaluated twice
    * — once aggregated to the (k·L)-cell level histogram (map-side
    * combined, broadcast back as one row), once scored map-only.
    * Never all-pairs; the block-key contract is unchanged. */
  def linkagePairScoresLeveled(df: DataFrame, id: String, block: String,
      comparisons: Seq[(String, org.apache.spark.sql.Column,
        Seq[(String, (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
          Long)])],
      minScorePp: Option[java.math.BigDecimal] = None): DataFrame = {
    require(comparisons.nonEmpty && comparisons.size <= 3,
      s"1..3 comparison fields, got ${comparisons.size}")
    require(comparisons.map(_._1).distinct.size == comparisons.size,
      s"duplicate field names in ${comparisons.map(_._1)}")
    comparisons.foreach { case (n, _, levels) =>
      require(levels.size >= 2 && levels.size <= 4,
        s"field $n: 2..4 levels, got ${levels.size}")
      require(levels.map(_._3).sum == 1000000L,
        s"field $n: level m_ppm must sum to 1000000 (levels " +
          s"partition the match class), got ${levels.map(_._3).sum}")
      require(levels.map(_._1).distinct.size == levels.size,
        s"field $n: duplicate level names")
    }
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val base = df.filter(col(id).isNotNull && col(block).isNotNull)
      .select(Seq(col(id).as("pid"), col(block).as("blk")) ++
        comparisons.map { case (n, c, _) => c.as(s"f_$n") }: _*)
    val a = base.select(Seq(col("pid").as("id_a"), col("blk")) ++
      comparisons.map { case (n, _, _) => col(s"f_$n").as(s"a_$n") }: _*)
    val b = base.select(Seq(col("pid").as("id_b"), col("blk")) ++
      comparisons.map { case (n, _, _) => col(s"f_$n").as(s"b_$n") }: _*)
    val pairs = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
    // level index per field: first matching predicate wins, the last
    // level is the fallback; NULL on either side -> -1 (abstain)
    def lvlIdx(n: String,
        levels: Seq[(String, (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
          Long)]): org.apache.spark.sql.Column = {
      val av = col(s"a_$n"); val bv = col(s"b_$n")
      val graded = levels.init.zipWithIndex
        .foldLeft(when(av.isNull || bv.isNull, lit(-1))) {
          case (acc, ((_, p, _), i)) => acc.when(p(av, bv), lit(i))
        }
      graded.otherwise(lit(levels.size - 1))
    }
    val leveled = pairs.select(Seq(col("id_a"), col("id_b")) ++
      comparisons.map { case (n, _, levels) =>
        lvlIdx(n, levels).as(s"lvl_$n") }: _*)
    // ONE candidate-population histogram, pivoted to a broadcast row
    // of clamped u_ppm per (field, level)
    val uAggs = comparisons.flatMap { case (n, _, levels) =>
      levels.indices.map { i =>
        expr(s"greatest(1L, least(999999L, cast(coalesce(" +
          s"count(if(lvl_$n = $i, 1, null)), 0) * 1000000 div " +
          s"greatest(1L, count(if(lvl_$n >= 0, 1, null))) as bigint)))")
          .as(s"u_${n}_$i")
      }
    }
    val uRow = leveled.agg(uAggs.head, uAggs.tail: _*)
    val scored = leveled.crossJoin(broadcast(uRow))
    val fieldScore = comparisons.map { case (n, _, levels) =>
      levels.indices.foldLeft(
        when(col(s"lvl_$n") === -1, dec(lit(1000000L)))) {
        case (acc, i) =>
          acc.when(col(s"lvl_$n") === i,
            dec(expr(s"cast(${levels(i)._3} as decimal(38,0)) " +
              s"* 1000000 div u_${n}_$i")))
      }.otherwise(dec(lit(1000000L)))
    }.reduce((x, y) => dec(x * y))
    val cut = minScorePp.map(v => lit(v).cast("decimal(38,0)"))
      .getOrElse(dec(lit(java.math.BigDecimal.valueOf(1000000L)
        .pow(comparisons.size))))
    val lvlName = comparisons.map { case (n, _, levels) =>
      levels.indices.foldLeft(
        when(col(s"lvl_$n") === -1, lit("abstain"))) {
        case (acc, i) => acc.when(col(s"lvl_$n") === i,
          lit(levels(i)._1))
      }.otherwise(lit("?")).as(s"level_$n")
    }
    scored
      .select(Seq(col("id_a"), col("id_b")) ++ lvlName ++
        Seq(fieldScore.cast("decimal(38,0)").as("score_pp")): _*)
      .filter(col("score_pp") > cut)
      .orderBy(col("score_pp").desc, col("id_a"), col("id_b"))
  }

  /** LINKAGE ENTITY CLUSTERING — the rung Splink ships after pair
    * scoring: connected components of the net-positive pair graph,
    * each clustered record labeled with its canonical entity id (the
    * min reachable id) and the entity's cluster size. Records in no
    * passing pair are unclustered and omitted.
    *
    * Value-identical to `connectedComponents(linkagePairScores(...))`
    * but NEVER materializes the full pair set — on duplicate-dense
    * data (the 100 TB case: a corpus where every record has many true
    * copies) the passing-pair set grows QUADRATICALLY in the copy
    * count, while this operator's edge set stays linear:
    *
    *   1. SIGNATURE GROUPING: records identical on (block, every
    *      comparison field), all fields non-NULL, are pairwise
    *      all-agree — and all-agree pairs pass the cut (runtime-
    *      guarded below), so each signature group is a clique. A
    *      STAR to the group's min id (member → rep) preserves its
    *      connectivity with |group|−1 edges instead of |group|²/2.
    *   2. REPRESENTATIVE SCORING: a pair's score depends only on
    *      (block, field values) = the signature, so scoring DISTINCT
    *      signatures covers every cross-signature pair — the rep-pair
    *      frame is signature-count-sized (copy-count-invariant), not
    *      record-count-sized. Records with a NULL comparison field
    *      are their own signature (NULL-abstention pairs score
    *      per-pair, exactly as in [[linkagePairScores]]).
    *   3. CC over stars ∪ rep pairs ([[connectedComponents]]:
    *      neighbor-min + pointer doubling, O(log diameter) rounds),
    *      then one component-keyed size aggregate.
    *
    * Components, membership, canonical ids, and sizes are EXACTLY
    * those of the full pair graph (the q280 oracle walks the full
    * pair set and hash-matches). Runtime guard: if the all-agree
    * score does not clear the cut (a field whose chance agreement u
    * exceeds m would carry negative evidence even on agreement), the
    * star assumption is invalid and this THROWS — fall back to
    * `connectedComponents(linkagePairScores(...))` there.
    *
    * Scale shape: one signature aggregate (the only record-sized
    * shuffle), a signature-sized blocked self-join, edge-linear CC
    * rounds; the u-row guard is a fields-sized driver read. */
  def linkageEntities(df: DataFrame, id: String, block: String,
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long = 950000L,
      minScorePp: Option[java.math.BigDecimal] = None,
      maxIter: Int = 25): DataFrame = {
    linkageChecks(fields, mPpm)
    val base = linkageBase(df, id, block, fields).persist()
    val uRow = linkageURow(df, fields)
    // the star-validity guard: all-agree must clear the cut
    val u = uRow.collect().head
    val cutV = minScorePp.map(v => BigInt(v.toBigInteger))
      .getOrElse(BigInt(1000000L).pow(fields.size))
    val allAgree = fields.map { case (n, _) =>
      BigInt(mPpm) * 1000000L / BigInt(u.getAs[Long](s"u_$n")) }.product
    require(allAgree > cutV,
      s"linkageEntities: the all-agree score $allAgree does not clear " +
        s"the cut $cutV (some field's agreement carries non-positive " +
        "evidence), so identical-signature records need not pair — " +
        "use connectedComponents(linkagePairScores(...)) instead")
    val fcols = fields.map { case (n, _) => col(s"f_$n") }
    val sigCols = "blk" +: fields.map { case (n, _) => s"f_$n" }
    val isClean = fields.map { case (n, _) => col(s"f_$n").isNotNull }
      .reduce(_ && _)
    val clean = base.filter(isClean)
    val sig = clean.groupBy((col("blk") +: fcols): _*)
      .agg(min(col("pid")).as("rep"))
    val stars = clean.join(sig, sigCols)
      .filter(col("pid") =!= col("rep"))
      .select(col("pid").as("doc_a"), col("rep").as("doc_b"))
    val reps = sig
      .select(Seq(col("rep").as("pid"), col("blk")) ++ fcols: _*)
      .unionByName(base.filter(!isClean))
    val repPairs = linkageScoredPairs(reps, uRow, fields, mPpm,
        minScorePp)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comp = connectedComponents(stars.unionByName(repPairs), maxIter)
    base.unpersist(false) // CC materialized the edges eagerly
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("component"))
      .select(col("doc_id").as(id), col("component").as("entity_id"),
        col("cluster_size"))
      .orderBy(col(id))
  }

  /** FELLEGI–SUNTER EM — UNSUPERVISED m/u estimation over blocked
    * pairs (the Splink/fastLink core loop; Winkler 1988): with no
    * labeled matches, the two-field agreement-pattern counts are a
    * mixture of a match class (agreement probability m_k) and a
    * non-match class (u_k), and EM separates them. FIXED `iters`
    * iterations, ALL-INTEGER ppm arithmetic:
    *
    *   E: r(p) = w_m(p)·10⁶ div (w_m(p) + w_u(p)),
    *      w_m(p) = λ·Π(p_k ? m_k : 10⁶−m_k),  w_u analogous with u
    *   M: m_k = Σ_{p:p_k=1} r(p)·n_p · 10⁶ div Σ_p r(p)·n_p,
    *      u_k analogous with (10⁶−r), λ = Σ_p r(p)·n_p div N
    *
    * every division truncating on non-negative operands (engine-
    * portable) and every updated parameter clamped to [1, 10⁶−1] ppm
    * (the PSI clamp rule — a parameter pinned at 0 or 1 would zero a
    * weight product and poison the next E-step). Pairs with a NULL on
    * either side of either field are EXCLUDED from estimation (an
    * abstention carries no pattern evidence). Starting point m⁰ =
    * 900000, u⁰ = 100000, λ⁰ = 10000 ppm — the standard
    * informative-but-vague init. One row out: (n_pairs, lambda_ppm,
    * m1_ppm, m2_ppm, u1_ppm, u2_ppm); NULL parameters when no pattern
    * mass (n_pairs = 0 or a degenerate responsibility sum).
    *
    * Scale shape: one blocked self equi-join reduced to FOUR pattern
    * counts in one conditional aggregate (map-side combined) — the
    * EM itself is literal algebra on one row, `iters` chained
    * projections deep. Deterministic: fixed iterations, fixed
    * operand order, no float anywhere. */
  def linkageEmMU(df: DataFrame, id: String, block: String,
      f1: org.apache.spark.sql.Column, f2: org.apache.spark.sql.Column,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4, s"iters=$iters")
    val base = df.filter(col(id).isNotNull && col(block).isNotNull)
      .select(col(id).as("pid"), col(block).as("blk"),
        f1.cast("string").as("f1"), f2.cast("string").as("f2"))
    val a = base.select(col("pid").as("ia"), col("blk"),
      col("f1").as("a1"), col("f2").as("a2"))
    val b = base.select(col("pid").as("ib"), col("blk"),
      col("f1").as("b1"), col("f2").as("b2"))
    val pats = a.join(b, Seq("blk")).filter(col("ia") < col("ib"))
      .filter(col("a1").isNotNull && col("b1").isNotNull &&
        col("a2").isNotNull && col("b2").isNotNull)
      .select((col("a1") === col("b1")).cast("int").as("g1"),
        (col("a2") === col("b2")).cast("int").as("g2"))
    val ps = Seq((0, 0), (0, 1), (1, 0), (1, 1))
    val cnt = pats.agg(
      count(when(col("g1") === 0 && col("g2") === 0, 1)).as("n_00"),
      count(when(col("g1") === 0 && col("g2") === 1, 1)).as("n_01"),
      count(when(col("g1") === 1 && col("g2") === 0, 1)).as("n_10"),
      count(when(col("g1") === 1 && col("g2") === 1, 1)).as("n_11"))
    var st = cnt.select(col("n_00"), col("n_01"), col("n_10"),
      col("n_11"), lit(10000L).as("lam"), lit(900000L).as("m1"),
      lit(900000L).as("m2"), lit(100000L).as("u1"),
      lit(100000L).as("u2"))
    val keep = Seq("n_00", "n_01", "n_10", "n_11").map(col)
    (1 to iters).foreach { _ =>
      // E-step: responsibilities per pattern (ppm), one projection
      val rCols = ps.map { case (g1, g2) =>
        def side(p: String, q: String) = {
          val t1 = if (g1 == 1) p else s"(1000000 - $p)"
          val t2 = if (g2 == 1) q else s"(1000000 - $q)"
          s"cast($t1 as decimal(38,0)) * $t2"
        }
        val wm = s"(cast(lam as decimal(38,0)) * ${side("m1", "m2")})"
        val wu = s"(cast(1000000 - lam as decimal(38,0)) * " +
          s"${side("u1", "u2")})"
        expr(s"cast($wm * 1000000 div ($wm + $wu) as bigint)")
          .as(s"r_$g1$g2")
      }
      val e = st.select(keep ++ Seq(col("lam"), col("m1"), col("m2"),
        col("u1"), col("u2")) ++ rCols: _*)
      // M-step: clamped parameter updates, one projection
      def S(f: (Int, Int) => String) =
        ps.map { case (g1, g2) => f(g1, g2) }.mkString(" + ")
      val t = S((g1, g2) => s"cast(r_$g1$g2 as decimal(38,0)) * n_$g1$g2")
      val tc = S((g1, g2) =>
        s"cast(1000000 - r_$g1$g2 as decimal(38,0)) * n_$g1$g2")
      val nTot = S((g1, g2) => s"cast(n_$g1$g2 as decimal(38,0))")
      def clamp(x: String) =
        s"greatest(1L, least(999999L, cast($x as bigint)))"
      def mUp(k: Int) = {
        val num = ps.filter(p => (if (k == 1) p._1 else p._2) == 1)
          .map { case (g1, g2) =>
            s"cast(r_$g1$g2 as decimal(38,0)) * n_$g1$g2" }
          .mkString(" + ")
        expr(s"if(($t) > 0, ${clamp(s"($num) * 1000000 div ($t)")}, " +
          "cast(null as bigint))").as(s"m$k")
      }
      def uUp(k: Int) = {
        val num = ps.filter(p => (if (k == 1) p._1 else p._2) == 1)
          .map { case (g1, g2) =>
            s"cast(1000000 - r_$g1$g2 as decimal(38,0)) * n_$g1$g2" }
          .mkString(" + ")
        expr(s"if(($tc) > 0, ${clamp(s"($num) * 1000000 div ($tc)")}, " +
          "cast(null as bigint))").as(s"u$k")
      }
      val lamUp = expr(s"if(($nTot) > 0, " +
        s"${clamp(s"($t) div ($nTot)")}, cast(null as bigint))")
        .as("lam")
      st = e.select(keep ++ Seq(lamUp, mUp(1), mUp(2), uUp(1),
        uUp(2)): _*)
    }
    st.select(
      expr("n_00 + n_01 + n_10 + n_11").cast("long").as("n_pairs"),
      col("lam").as("lambda_ppm"), col("m1").as("m1_ppm"),
      col("m2").as("m2_ppm"), col("u1").as("u1_ppm"),
      col("u2").as("u2_ppm"))
  }

  /** One pivoted u_ppm aggregate column of [[linkagePairScores]]'
    * stage 1: the field's chance-agreement ppm from its (f, n, ap)
    * histogram row, clamped to [1, 10⁶−1] (the PSI ppm-clamp rule —
    * an all-unique or all-identical field would make one odds branch
    * undefined); 500000 (neutral-ish) when the field has < 2 non-NULL
    * values or is absent from the histogram entirely. */
  private def linkageUCol(n: String): org.apache.spark.sql.Column =
    coalesce(max(when(col("f") === n,
      greatest(lit(1L), least(lit(999999L),
        when(col("n").cast("decimal(38,0)") * (col("n") - 1) > 0,
          expr("cast(ap * 1000000 div (cast(n as decimal(38,0))" +
            " * (n - 1)) as bigint)"))
          .otherwise(lit(500000L)))))), lit(500000L)).as(s"u_$n")

  /** FELLEGI–SUNTER FIELD WEIGHTS from value frequencies — the
    * record-linkage preparation step (Fellegi & Sunter, JASA 1969;
    * Splink's "term-frequency u probabilities"): for each comparison
    * field, the chance-agreement probability of two DISTINCT random
    * records,
    *
    *   u_k = Σ_v c_v·(c_v − 1) / (n_k·(n_k − 1))
    *
    * computed EXACTLY from the field's value histogram (the classic
    * frequency-based u estimate — a field that agrees by chance 20% of
    * the time carries far less match evidence than one that agrees
    * 0.1%), plus the match/non-match odds at an assumed reliability
    * m: match_odds = m/u (the agreement weight's odds form) and
    * nonmatch_odds = (1−m)/(1−u) (the disagreement penalty). ODDS,
    * not log-weights, deliberately: log is not IEEE
    * correctly-rounded, so log values can differ in the last ulp
    * across engines — every float op this library oracles is from
    * the correctly-rounded set (+ − × ÷ sqrt), and odds rank pairs
    * identically. One row per field: (field, n, n_distinct, u_ppm
    * exact via DECIMAL, match_odds, nonmatch_odds rounded 4 dp; NULL
    * odds when n < 2 or every value is identical — no pair evidence).
    *
    * Scale shape: the fields stack map-side (one generator, no join),
    * ONE (field, value) aggregate — the only shuffle, map-side
    * combined — then a fields-sized aggregate; value histograms never
    * reach the driver. */
  def linkageFieldWeights(df: DataFrame,
      fields: Seq[(String, org.apache.spark.sql.Column)],
      mPpm: Long = 950000L): DataFrame = {
    require(fields.nonEmpty, "at least one comparison field")
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate field names in ${fields.map(_._1)}")
    require(mPpm >= 1 && mPpm <= 999999, s"mPpm=$mPpm")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val stacked = df
      .select(explode(array(fields.map { case (n, c) =>
        struct(lit(n).as("f"), c.cast("string").as("v")) }: _*)).as("s"))
      .select(col("s.f").as("f"), col("s.v").as("v"))
      .filter(col("v").isNotNull)
    // m and 1−m derive from the SAME exact ppm integer: Scala's
    // 1.0 − 0.95 is a double op one ulp off DuckDB's decimal-literal
    // 0.05 — dividing exact integers sidesteps the literal-arithmetic
    // mismatch entirely (both engines' ÷ is correctly rounded)
    val m = mPpm.toDouble / 1e6
    val nm = (1000000L - mPpm).toDouble / 1e6
    stacked.groupBy(col("f"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("f"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sum(dec(col("c")) * (col("c") - 1)).as("ap"))
      .withColumn("tp", dec(col("n")) * (col("n") - 1))
      .select(col("f").as("field"), col("n").cast("long").as("n"),
        col("n_distinct").cast("long").as("n_distinct"),
        when(col("tp") > 0, expr(
          "cast(ap * 1000000 div tp as bigint)")).as("u_ppm"),
        // ap = 0 (every value unique) means u = 0: agreement carries
        // unbounded evidence — NULL, like the all-identical other edge
        when(col("tp") > 0 && col("ap") > 0,
          round(lit(m) / (col("ap").cast("double") /
            col("tp").cast("double")), 4) + lit(0.0)).as("match_odds"),
        when(col("tp") > col("ap"),
          round(lit(nm) / (lit(1.0) - col("ap").cast("double") /
            col("tp").cast("double")), 4) + lit(0.0))
          .as("nonmatch_odds"))
  }
}
