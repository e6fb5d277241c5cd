package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (north-star X3;
  * SURVEY.md §2.12). Brute-force exact scoring as the baseline, plus a
  * random-hyperplane LSH variant as the scale path.
  *
  * Scale design: the query side is always the broadcast side — the corpus
  * never shuffles for scoring. Exact top-k uses TakeOrderedAndProject
  * (per-partition heaps, no global sort). The LSH variant prunes the corpus
  * to candidate buckets BEFORE any dot product, which is what makes top-k
  * affordable when the corpus is 10^10 vectors: scoring cost goes from
  * O(N·d) to O(|candidates|·d) per query (Indyk-Motwani / Charikar
  * hyperplane LSH, STOC 1998 / STOC 2002).
  *
  * All arithmetic runs in double via codegen'd higher-order functions
  * (`zip_with` + `aggregate`) — no UDFs on the hot path.
  */
object Similarity {

  /** Sequential-fold dot product, codegen'd ([[graft.plans.DotProduct]]):
    * identical index-order summation to DuckDB's `list_dot_product` (and to
    * [[dotHof]]), so results are bit-comparable. */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dot_product(a, b)

  /** The same fold via built-in higher-order functions — CodegenFallback,
    * kept as the baseline the custom expression is benchmarked against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Corpus side with the norm precomputed ONCE per row — the cross join
    * would otherwise recompute ‖v‖ per (row × query) pair. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** X3 exact top-k by cosine against one stored query vector. */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") === queryId))
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    withNorm(Par.fanOut(emb.filter(col("vec_id") =!= queryId)))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** X3 k-NN join: top-k neighbors for EVERY query row (queries broadcast,
    * per-query ranking via window). */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qs = withNorm(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = withNorm(Par.fanOut(corpus))
      .crossJoin(broadcast(qs))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** X3 contrastive hard-negative mining — for each anchor (the first
    * `nQueries` vectors), the top-`k` most-similar vectors whose LABEL
    * differs from the anchor's: the highest-cosine wrong-class
    * neighbors, i.e. exactly the negatives a contrastive / embedding-
    * finetune pipeline wants (easy negatives are useless; same-label
    * neighbors are positives). Same broadcast-anchors + per-anchor
    * window shape as [[knnJoin]] with the label-inequality predicate
    * applied BEFORE scoring survives to the window.
    *
    * Exact by construction so the oracle pins every row; the 100 TB
    * path restricts candidates to the anchor's probed IVF cells
    * ([[ivfTopKWith]]'s cell prune) and exact-scores only bucket-mates
    * — same plan below the scoring join. */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = Par.fanOut(base)
      .crossJoin(broadcast(qs))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id").as("nid"),
        col("label").as("neg_label"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("neg_label"), col("rnk"), col("cos"))
  }

  /** X2 embedding-cosine near-duplicate PAIRS: every (id_a < id_b) pair
    * with cosine >= threshold, exact O(n²/2) with norms precomputed once
    * per row. Kept exact so the DuckDB oracle pins it bit-for-bit. The
    * 100 TB path swaps the all-pairs join for the hyperplane-LSH blocking
    * of [[annTopK]] (candidates = bucket-mates, exact-verified) — the same
    * candidate→verify shape as MinHash→Jaccard in [[Dedup]]. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    // fan out the STREAMED side of the nested-loop join — the broadcast
    // side's partitioning is irrelevant, but the stream side's partition
    // count is the join's parallelism
    val a = withNorm(Par.fanOut(emb)).select(col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = withNorm(emb).select(col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val rawCos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    // Filter on the RAW cosine at the exact flip boundary instead of on
    // round(cos, 4): Spark's round() on double goes through
    // BigDecimal.valueOf (a Double.toString per call), and a rounded
    // predicate gets pushed into the join condition where it would run for
    // all O(n²) pairs and dominate the operator. The boundary filter is a
    // plain double compare with IDENTICAL selectivity (see
    // [[roundedGeqBoundary]]); round() then runs only in the output
    // projection for the qualifying pairs.
    a.join(b, col("id_a") < col("id_b") &&
        rawCos >= roundedGeqBoundary(threshold, 4))
      .select(col("id_a"), col("id_b"), round(rawCos, 4).as("cos"))
  }

  /** Smallest double `b` with `round(b, scale) >= t` under Spark's double
    * rounding (BigDecimal.valueOf + HALF_UP — RoundBase's DoubleType path),
    * located by an ulp walk from the approximate decimal boundary. Because
    * that rounding is monotone non-decreasing in its input,
    * `raw >= b  ⟺  round(raw, scale) >= t` for every double (NaN fails
    * both; null propagates identically) — so filtering on the raw value at
    * this boundary is EXACTLY the rounded filter, minus the per-row
    * BigDecimal cost. */
  private[operators] def roundedGeqBoundary(t: Double, scale: Int): Double = {
    require(t > 0 && !t.isNaN && !t.isInfinite,
      s"threshold must be a positive finite double, got $t")
    def r(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    // Bit-space binary search: for non-negative doubles the IEEE bit
    // pattern is order-isomorphic to the value, so midpointing the BITS
    // halves the candidate range exactly. (An ulp walk from a decimal
    // guess would need ~1e14 steps when t is not representable at
    // `scale` — e.g. t = 0.39995 at scale 4.)
    val step = math.pow(10.0, -scale.toDouble)
    var lo = java.lang.Double.doubleToLongBits(math.max(t - 2 * step, 0.0))
    var hi = java.lang.Double.doubleToLongBits(t + 2 * step)
    // invariant: r(lo) < t <= r(hi)
    while (lo + 1 < hi) {
      val mid = (lo + hi) >>> 1
      if (r(java.lang.Double.longBitsToDouble(mid)) >= t) hi = mid else lo = mid
    }
    java.lang.Double.longBitsToDouble(hi)
  }

  /** Driver-side one-row peek asserting the embedding dimension matches
    * the hyperplane dimension (cheap: LocalLimit(1) scan). An empty input
    * passes vacuously. Per-row raggedness beyond the first row is NOT
    * checked here (a full-scan assert would double the read); a later
    * mismatched row nulls its hyperplane dot products and lands in one
    * bucket rather than corrupting neighbors. */
  private def requireDim(emb: DataFrame, dim: Int): Unit =
    emb.select(size(col("embedding"))).limit(1).collect().headOption.foreach { r =>
      val actual = r.getInt(0)
      require(actual == dim,
        s"embedding dim $actual != hyperplane dim $dim — pass dim=$actual")
    }

  /** Deterministic ±1 hyperplanes for [[annTopK]]. */
  private def planes(numTables: Int, bitsPerTable: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numTables, bitsPerTable, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Per-row LSH bucket signatures: (table, bucket) pairs, one per table. */
  private def bucketed(emb: DataFrame, pl: Array[Array[Array[Double]]]): DataFrame = {
    val v = asDouble(col("embedding"))
    val tableCols = pl.zipWithIndex.map { case (table, t) =>
      val bucket = table.zipWithIndex.map { case (plane, j) =>
        when(dot(v, typedLit(plane.toSeq)) > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }
    emb.select(col("vec_id"), col("embedding"),
      explode(array(tableCols.toIndexedSeq: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** X2 SemDeDup-style SEMANTIC dedup decision (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): within each cluster ("cell"), a vector is DROPPED
    * when some smaller-id cell-mate is cosine-similar at or above
    * `threshold` (the deterministic keep-first rule; ids give the
    * tie-break SemDeDup leaves unspecified). Unlike [[cosinePairs]] (the
    * pair LIST), this emits the per-vector keep/drop verdict a curation
    * funnel consumes.
    *
    * Scale design: pairwise scoring never crosses cells — the candidate
    * join is an equi-join on the cell id, so cost is Σ m_cell², bounded
    * by the max cell size a clusterer produces (SemDeDup's k-means sizes
    * cells to ~corpus/k), never corpus². The cell id is the shuffle key
    * at 100 TB; cells shard across executors independently. Here the
    * pre-assigned `label` column stands in for the trained cluster id
    * ([[ivfCells]] centroids assign one in production).
    *
    * Threshold semantics match [[cosinePairs]]: drop iff
    * round(cos, 4) >= threshold, evaluated as a raw-double boundary
    * compare ([[roundedGeqBoundary]]) so no BigDecimal runs inside the
    * join.
    *
    * `cellCap` (opt-in, default unlimited): FAIL-FAST guard against a
    * degenerate clusterer — a cell of m vectors costs m²/2 scored pairs,
    * so one collapsed cell (k too small, or a constant cell column) can
    * silently turn the bounded join into all-pairs. A finite cap runs
    * one cheap (cell, count) aggregation up front and raises a
    * descriptive error naming the offending cell instead of submitting
    * the blowup. Results are NEVER silently truncated (contrast the
    * advisory on containment's dfCap). */
  def semDedup(emb: DataFrame, cellCol: String, threshold: Double,
      cellCap: Long = Long.MaxValue): DataFrame = {
    if (cellCap != Long.MaxValue) {
      val worst = emb.groupBy(col(cellCol)).count()
        .orderBy(col("count").desc).limit(1).collect()
      worst.headOption.foreach { r =>
        require(r.getLong(1) <= cellCap,
          s"semDedup cell ${r.get(0)} holds ${r.getLong(1)} vectors " +
            s"(cap $cellCap): ~${r.getLong(1) * r.getLong(1) / 2} scored " +
            "pairs in one cell — refine the clusterer (larger k) or raise " +
            "cellCap")
      }
    }
    val keyed = emb.select(col(cellCol).as("cell"), col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // explicitly distinct key names on the two sides — a self-join on a
    // shared "cell" attribute would lean on Spark's ambiguous-self-join
    // disambiguation (and warn) instead of stating the equi-key
    // NO Par.fanOut on either side: the candidate join hash-EXCHANGES on
    // the cell key anyway, so a round-robin repartition upstream is a
    // second, wasted shuffle (showed as stacked Exchanges in EXPLAIN.md)
    val a = keyed.select(col("cell").as("cell_a"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = keyed.select(col("cell").as("cell_b"),
      col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val rawCos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    // corpus-scale self-join on the cell key: see Dedup's SHUFFLE_HASH note
    val drop = b.join(a.hint("SHUFFLE_HASH"),
        col("cell_a") === col("cell_b") && col("id_a") < col("id_b") &&
        rawCos >= roundedGeqBoundary(threshold, 4))
      .select(col("id_b").as("vec_id")).distinct()
    keyed.select(col("vec_id"), col("cell"))
      .join(drop.withColumn("d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("d").isNull, 1).otherwise(0).as("kept"))
  }

  /** Cross-set SemDeDup gate: incoming vectors that survive against an
    * EXISTING corpus — an incoming vector is dropped when ANY corpus
    * cell-mate, or ANY smaller-id incoming cell-mate, is cosine-similar
    * at or above `threshold`. Both frames carry (vec_id, embedding,
    * `cellCol`). Like [[semDedup]] the in-batch rule is the independent
    * any-smaller-mate predicate, not a sequential greedy — a batch vector
    * can be dropped by a mate that is itself dropped against the corpus
    * (deterministic either way; transitivity-aware removal would add a
    * [[graft.operators.Dedup.connectedComponents]] pass over the pairs).
    *
    * Plan — ship the small batch to the corpus, never the reverse (the
    * shape of [[graft.operators.Dedup.dropIncomingDuplicatesIndexed]]):
    *   - the batch's (cell, id, vector, norm) rows are broadcast once;
    *   - the corpus and the batch itself stream past them in ONE map-only
    *     cell-keyed hash join, each streamed row tagged with its side. A
    *     corpus row drops every cell-mate at or above the bound; a batch
    *     row drops only cell-mates with a larger id. The tag keeps the
    *     id rule off corpus rows, whose ids may collide with batch ids;
    *   - the join emits loser ids only; they are collected to the
    *     driver, and the result is `incoming` filtered by that id set
    *     ([[Dedup.withoutIds]]), so nothing is pinned or shuffled.
    * Only same-cell pairs are scored, so a caller need not prune the
    * corpus to the batch's cells; no corpus row is shuffled or broadcast.
    *
    * Driver bound: the probe broadcast holds one row per batch vector,
    * and the collected losers one id per scored pair at or above the
    * bound (a few per batch vector; the set keeps each once). A caller
    * whose batch is too large for the driver must split the batch; a
    * stream bounds it with `maxFilesPerTrigger`. */
  def semDedupIncoming(existing: DataFrame, incoming: DataFrame,
      cellCol: String, threshold: Double): DataFrame = {
    def prep(df: DataFrame, inBatch: Boolean) =
      df.select(col(cellCol).as("cell_a"), col("vec_id").as("id_a"),
          asDouble(col("embedding")).as("va"), lit(inBatch).as("in_batch"))
        .withColumn("na", sqrt(dot(col("va"), col("va"))))
    val probe = incoming.select(col(cellCol).as("cell_b"),
        col("vec_id").as("id_b"), asDouble(col("embedding")).as("vb"))
      .withColumn("nb", sqrt(dot(col("vb"), col("vb"))))
    val rawCos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    val losers = prep(existing, inBatch = false)
      .union(prep(incoming, inBatch = true))
      .join(broadcast(probe), col("cell_a") === col("cell_b") &&
        (!col("in_batch") || col("id_a") < col("id_b")) &&
        rawCos >= roundedGeqBoundary(threshold, 4))
      .select(col("id_b").as("vec_id"))
    Dedup.withoutIds(incoming, "vec_id", losers)
  }

  /** [[semDedup]] under a SKEWED clusterer — the identical keep/drop
    * decision computed by a replicated skew join: the within-cell
    * candidate join keys on (cell, salt) with salt = id_b mod `salt`,
    * and the a-side replicated to every salt value, so one hot cell's
    * m²/2 scored pairs spread across `salt` reducers instead of
    * serializing on one (the standard 1-bucket/replication answer to
    * join skew). Cost: a-side rows are duplicated `salt`× — narrow
    * (cell, id, v, nrm) rows only; at 100 TB you salt just the hot
    * cells a cheap (cell, count) agg flags (and [[semDedup]]'s cellCap
    * names), not the whole corpus — AQE's skew split handles moderate
    * skew without either. `salt = 1` degenerates to [[semDedup]]'s
    * exact plan shape; every salt value returns the same rows, which
    * the q158 oracle (the unsalted pairwise SQL) pins. */
  def semDedupSalted(emb: DataFrame, cellCol: String, threshold: Double,
      salt: Int): DataFrame = {
    require(salt >= 1, s"salt=$salt")
    val keyed = emb.select(col(cellCol).as("cell"), col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val b = keyed.select(col("cell").as("cell_b"),
        col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      .withColumn("sb", pmod(col("id_b"), lit(salt.toLong)).cast("int"))
    val a = keyed.select(col("cell").as("cell_a"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      .withColumn("sa", explode(sequence(lit(0), lit(salt - 1))))
    val rawCos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    val drop = b.join(a.hint("SHUFFLE_HASH"),
        col("cell_a") === col("cell_b") && col("sa") === col("sb") &&
        col("id_a") < col("id_b") &&
        rawCos >= roundedGeqBoundary(threshold, 4))
      .select(col("id_b").as("vec_id")).distinct()
    keyed.select(col("vec_id"), col("cell"))
      .join(drop.withColumn("d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("d").isNull, 1).otherwise(0).as("kept"))
  }

  /** Deterministic distributed Lloyd's k-means ASSIGNMENT after `iters`
    * update steps — the trained coarse quantizer behind [[ivfTopKWith]]
    * and [[semDedup]] cells (per-label means stand in elsewhere; this is
    * the real trainer). Returns (vec_id, cid).
    *
    * Scale shape per iteration: one shuffle (groupBy cid × dimension for
    * the element-wise mean) + a driver collect of k×d doubles (metadata-
    * sized — centroids are broadcast state in every distributed k-means,
    * Spark MLlib included); assignment itself is map-only against the
    * broadcast centroid literals. O(iters) jobs, no lineage growth (each
    * iteration re-plans from `emb`).
    *
    * Determinism (what makes a bit-exact DuckDB oracle possible):
    * init = the k lowest-vec_id vectors (cid = that vec_id); distance
    * compares use ‖v‖² − 2v·c + ‖c‖² with every dot a fixed left fold
    * ([[dot]]'s index-order contract); ties break to the lowest cid; and
    * each updated centroid coordinate is ROUNDED to 6 decimals, so the
    * one order-dependent float op (the partition-merged mean) cannot leak
    * a last-ulp difference into the next assignment — both engines see
    * the identical rounded doubles. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val init = base.orderBy(col("vec_id")).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    lloyd(base, init, iters)
  }

  /** The shared Lloyd loop: `iters` (assign → rounded-mean update) steps
    * from the given init, then the final assignment. */
  private def lloyd(base: DataFrame,
      init: Array[(Long, Array[Double])], iters: Int): DataFrame =
    assignTo(Par.fanOut(base), lloydCentroids(base, init, iters))
      .select(col("vec_id"), col("cid"))

  /** The Lloyd UPDATE loop alone: the trained (cid, centroid) state after
    * `iters` steps — what a serving/streaming path persists. */
  private def lloydCentroids(base: DataFrame,
      init: Array[(Long, Array[Double])], iters: Int)
      : Array[(Long, Array[Double])] = {
    var centroids = init
    for (_ <- 0 until iters) {
      centroids = assignTo(Par.fanOut(base), centroids)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(round(avg(col("x")), 6).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"),
          col("m")))).getField("m").as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    }
    centroids
  }

  /** Deterministic Lloyd-TRAINED centroids (same init/rounding/tie-break
    * contract as [[kmeansAssign]]), as driver-side broadcast state — the
    * k×d codebook a streaming sink stores once and probes per batch. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int)
      : Array[(Long, Array[Double])] = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val init = base.orderBy(col("vec_id")).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    lloydCentroids(base, init, iters)
  }

  /** A driver-side codebook as a persistable (cid, c) DataFrame — the
    * [[graft.sources.IndexStore]] round-trip form of
    * [[kmeansCentroids]]: parquet stores the IEEE doubles exactly, so
    * persist → [[centroidsOf]] reproduces the trained array
    * bit-for-bit and every downstream probe ([[assignWith]]) is
    * byte-identical to probing the inline training. This is how a
    * codebook becomes a VERSIONED artifact (q186): each training run
    * commits one snapshot under its own fingerprint; monitors read two
    * versions and pay probes only. */
  def centroidsDF(spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "c")
  }

  /** Read a persisted codebook back to the broadcast-state array form
    * [[assignWith]] probes — k rows collected, sorted by cid. */
  def centroidsOf(df: DataFrame): Array[(Long, Array[Double])] =
    df.select(col("cid"), col("c").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Map-only (vec_id, cid) assignment against STORED centroids — the
    * probe half of the trained quantizer, shuffle-free at any scale. */
  def assignWith(emb: DataFrame,
      centroids: Array[(Long, Array[Double])]): DataFrame =
    assignTo(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      centroids).select(col("vec_id"), col("cid"))

  /** [[assignWith]] KEEPING the vector — (vec_id, embedding, cid) in
    * ONE map-only projection. This is the index-build/member shape:
    * joining [[assignWith]]'s (vec_id, cid) back onto the vectors
    * would shuffle-sort the corpus's arrays through an SMJ just to
    * re-attach a column the map already had (measured 52 s → 2 s on
    * the 2M-vector serve-identity arm at 100×). */
  def assignWithVec(emb: DataFrame,
      centroids: Array[(Long, Array[Double])],
      keep: Seq[String] = Nil): DataFrame =
    emb.select(col("vec_id") +: keep.map(col) :+
        asDouble(col("embedding")).as("embedding"): _*)
      .withColumn("cid",
        argminStruct(col("embedding"), centroids).getField("cid"))

  /** Sample-trained (mini-batch-style) Lloyd: the UPDATE passes run over
    * the deterministic `vec_id % sampleMod == 0` sample only; the final
    * assignment covers the FULL corpus. This is the 100 TB iteration-cost
    * answer (Sculley, "Web-scale k-means clustering", WWW 2010): full
    * Lloyd charges O(corpus·k·d) PER ITERATION, while centroid quality
    * converges on a sample — training touches corpus/sampleMod vectors
    * per pass and only the single mandatory assignment pass reads
    * everything. The sample predicate is a pure function of vec_id, so
    * the trained codebook is reproducible (and oracle-replayable) —
    * unlike random mini-batches. Init = the k lowest SAMPLED vec_ids;
    * every other determinism rule matches [[kmeansAssign]]. */
  def kmeansAssignSampled(emb: DataFrame, k: Int, iters: Int,
      sampleMod: Int): DataFrame = {
    require(k >= 1 && iters >= 0 && sampleMod >= 1,
      s"k=$k iters=$iters sampleMod=$sampleMod")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sample = base.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
    val init = sample.orderBy(col("vec_id")).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    assignTo(Par.fanOut(base), lloydCentroids(sample, init, iters))
      .select(col("vec_id"), col("cid"))
  }

  /** Deterministic farthest-first (k-center greedy, Gonzalez 1985)
    * seeding + Lloyd — the deterministic stand-in for k-means++'s
    * D²-sampling: seed 1 is the lowest vec_id; each next seed is the
    * vector MAXIMIZING the distance to its nearest chosen seed (ties to
    * the lowest vec_id). Spreads seeds 2-approximately optimally for
    * k-center, avoiding the arbitrary-id init's risk of co-located
    * seeds. Each seeding step is one corpus scan ending in a
    * TakeOrderedAndProject(1) — k−1 driver round-trips of one row each;
    * same broadcast-state regime as the Lloyd loop itself. */
  def kmeansAssignFarthest(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    var seeds = base.orderBy(col("vec_id")).limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    while (seeds.length < k) {
      val dists = seeds.map { case (_, c) =>
        val cl = typedLit(c.toSeq)
        val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl) + lit(cc)
      }
      val minDist = dists.reduce(least(_, _))
      val next = Par.fanOut(base)
        .withColumn("md", minDist)
        .orderBy(col("md").desc, col("vec_id").asc)
        .limit(1).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      seeds = seeds ++ next
    }
    lloyd(base, seeds, iters)
  }

  /** Deterministic k-means++ (Arthur & Vassilvitskii, SODA 2007)
    * D²-sampling seeding + Lloyd. TRUE proportional-to-D² sampling — not
    * the farthest-first stand-in ([[kmeansAssignFarthest]]) — made
    * exactly reproducible by replacing the RNG with a content hash and
    * the floating-point CDF walk with integer arithmetic:
    *
    *  - seed 1 is the lowest vec_id;
    *  - each round r computes every vector's min squared distance to the
    *    seeds so far (row-local left-fold dots), scales it to an integer
    *    weight w = max(round(d² · 10⁶), 0), prefix-sums w in vec_id
    *    order with the two-level [[graft.operators.Curation
    *    .withGlobalCumsum]] (no single-partition window anywhere), and
    *    draws the threshold t = (h_r · Σw) div 2³² with h_r = the first
    *    32 bits of md5("kmeanspp:" + r) — a uniform variate any engine
    *    reproduces from the string alone;
    *  - seed r is the LOWEST vec_id whose inclusive cumsum exceeds t —
    *    the textbook inverse-CDF pick, landing on each vector with
    *    probability w/Σw. Zero-weight vectors (exact duplicates of a
    *    seed) can never win: their cumsum never crosses a threshold an
    *    earlier row didn't already cross.
    *
    * Everything after the row-local d²·10⁶ rounding is integer
    * arithmetic, so two engines (and any partitioning) agree on every
    * seed. Σw stays below 2⁶³ while corpus·d²·10⁶ does (~10¹⁰ rows at
    * d² ≈ 100); beyond that scale by 10³ instead of 10⁶.
    *
    * Scale shape per seeding round: one corpus scan for the weights, the
    * cumsum's single range shuffle, one driver row back. k−1 rounds like
    * every sequential seeder — for huge k, seed over a deterministic
    * id-sample (the [[kmeansAssignSampled]] trick) instead. */
  def kmeansAssignPlusPlus(emb: DataFrame, k: Int, iters: Int): DataFrame =
      Pin.scope {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    var seeds = base.orderBy(col("vec_id")).limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    while (seeds.length < k) {
      val r = seeds.length + 1
      val dists = seeds.map { case (_, c) =>
        val cl = typedLit(c.toSeq)
        val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl) + lit(cc)
      }
      val minDist = dists.reduce(least(_, _))
      val w = greatest(round(minDist * lit(1e6)), lit(0.0)).cast("long")
      val cum = Curation.withGlobalCumsum(
        base.withColumn("w", w), Seq(col("vec_id").asc), col("w"))
      // (h · Σw) div 2³² in decimal so the product can't overflow long
      val thr = expr(s"(CAST(${hash32(s"kmeanspp:$r")} AS DECIMAL(20,0))" +
        " * tot) div 4294967296L")
      val next = cum.filter(col("cum") > thr)
        .orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("v")).collect()
        .map(rw => (rw.getLong(0), rw.getSeq[Double](1).toArray))
      require(next.nonEmpty,
        s"k-means++ seeding degenerate at round $r: every remaining " +
          "vector coincides with a chosen seed (total D2 weight 0) — " +
          "lower k or exact-dedup the corpus first")
      seeds = seeds ++ next
    }
    lloyd(base, seeds, iters)
  }

  /** First 32 bits of md5(s) as an unsigned long — the deterministic
    * uniform draw the DuckDB oracle replays (by construction, not shared
    * code) via list_reduce over the md5 hex prefix. */
  private[operators] def hash32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(4).foldLeft(0L)((a, b) => a * 256L + (b & 0xff))
  }

  /** Map-only nearest-centroid assignment against broadcast literals:
    * per row, array_min over k (distance, cid) structs — lexicographic
    * struct order = min distance, ties to lowest cid. */
  private def assignTo(base: DataFrame,
      centroids: Array[(Long, Array[Double])]): DataFrame =
    base.withColumn("cid", argminStruct(col("v"), centroids).getField("cid"))

  /** The nearest-centroid struct (d, cid) for an arbitrary vector column:
    * array_min over k candidate structs — lexicographic order = min
    * distance, ties to lowest cid. ‖c‖² is folded on the driver in the
    * same index order as dot(). */
  private def argminStruct(v: Column,
      centroids: Array[(Long, Array[Double])]): Column = {
    val cands = centroids.map { case (cid, c) =>
      val cl = typedLit(c.toSeq)
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((dot(v, v) - lit(2.0) * dot(v, cl) + lit(cc)).as("d"),
        lit(cid).as("cid"))
    }
    array_min(array(cands.toIndexedSeq: _*))
  }

  /** Product-quantization codes (Jégou, Douze & Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011) — THE
    * standard 100 TB vector-compression path: the d-dim embedding splits
    * into `m` width-d/m subvectors, each subspace gets its own Lloyd-
    * trained k-codebook (same determinism contract as [[kmeansAssign]]:
    * k-lowest-vec_id init, 6-decimal rounded means, ties to lowest cid),
    * and every vector compresses to m small codes — d·4 bytes down to
    * m·⌈log₂k⌉ bits (64-dim float ≈ 256 B → 4 B at m=4, k=8). Returns
    * (vec_id, c1..cm, qerr) with qerr = the summed per-subspace squared
    * quantization error (the ADC lookup value for the vector's own code
    * word) rounded to 4 decimals.
    *
    * Scale shape: training runs m small Lloyd loops (one aggregate-scan
    * per iteration each, k×(d/m) driver doubles — broadcast-state
    * regime); ENCODING is the part that touches the full corpus and it
    * is a single map-only pass computing all m argmins per row — no
    * shuffle, no join: codebooks ride along as broadcast literals. */
  def pqCodes(emb: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && k >= 1 && iters >= 0, s"m=$m k=$k iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // 1-row dimension probe (metadata-sized, same as the IVF path)
    val d = base.select(size(col("v")).as("d")).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into m=$m subspaces")
    val w = d / m
    val books = (0 until m).map { j =>
      val sub = base.select(col("vec_id"), slice(col("v"), j * w + 1, w).as("v"))
      val init = sub.orderBy(col("vec_id")).limit(k).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      lloydCentroids(sub, init, iters)
    }
    val withCodes = books.zipWithIndex.foldLeft(Par.fanOut(base)) {
      case (df, (cb, j)) =>
        df.withColumn(s"__s${j + 1}",
          argminStruct(slice(col("v"), j * w + 1, w), cb))
    }
    val qerr = (1 to m).map(j => col(s"__s$j").getField("d"))
      .reduce(_ + _) // fixed left-assoc add order, mirrored by the oracle
    withCodes.select(
      col("vec_id") +:
        (1 to m).map(j => col(s"__s$j").getField("cid").as(s"c$j")) :+
        round(qerr, 4).as("qerr"): _*)
  }

  /** IVF codebook TRAINING plan: the per-`label` mean vector of every
    * cell (k-means' update step with given assignments) — O(corpus), run
    * once and PERSISTED (see [[graft.sources.IndexStore]]); queries probe
    * the stored centroids instead of re-deriving them per call (VERDICT
    * r4 #6). Element-wise mean: posexplode → (label, pos) avg → rebuild. */
  def ivfCells(emb: DataFrame): DataFrame =
    Par.fanOut(emb)
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg(col("x")).as("m"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .getField("m").as("centroid"))

  /** X3 IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every vector to its nearest centroid; a query probes only the
    * `nProbe` closest cells and rescores their members exactly. Centroids
    * here are the per-`label` mean vectors (k-means' assignment step with
    * given classes); at 100 TB the cell id becomes the partition key, so a
    * probe touches nProbe partitions instead of the whole corpus.
    * TRAINS THE CODEBOOK IN-LINE ([[ivfCells]]) — the self-contained
    * form for tests/ad-hoc use; a serving path passes stored centroids to
    * [[ivfTopKWith]]. */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nProbe: Int = 3): DataFrame =
    ivfTopKWith(ivfCells(emb), emb, queryId, k, nProbe)

  /** The IVF PROBE path against a trained codebook `cells`
    * ((label, centroid) rows, typically a tiny table read from an
    * [[graft.sources.IndexStore]] index): rank cells by query-to-centroid
    * cosine, rescore only the members of the best `nProbe` cells exactly.
    * No corpus-sized aggregation anywhere — the corpus is touched only by
    * the cell-pruned scan. */
  def ivfTopKWith(cells: DataFrame, emb: DataFrame, queryId: Long, k: Int,
      nProbe: Int = 3): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") === queryId))
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val probed = cells.crossJoin(broadcast(q))
      .select(col("label"),
        (dot(col("centroid"), col("qv")) /
          (sqrt(dot(col("centroid"), col("centroid"))) * col("qnrm"))).as("ccos"))
      .orderBy(col("ccos").desc, col("label"))
      .limit(nProbe)
      .select(col("label"))
    Par.fanOut(emb.filter(col("vec_id") =!= queryId))
      .join(broadcast(probed), "label") // prune to the probed cells
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("v"), col("qv")) /
          (sqrt(dot(col("v"), col("v"))) * col("qnrm")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** EXACTLY-ORACLED IVF index evaluation — per-anchor recall@`topK` of
    * the `nProbe`-cell IVF probe against the exact cosine top-`topK`,
    * over the deterministic trained quantizer ([[kmeansCentroids]], same
    * init/rounding/tie-break contract as q136): the index-quality report
    * an ANN deployment tracks before trusting a probe setting. Because
    * the quantizer, the probe choice (centroid cosine, cid tiebreak),
    * both top-k lists (rounded cosine, nid tiebreak) and the
    * intersection are all deterministic, EVERY output row replays on any
    * engine — unlike the ANN serving queries, whose oracles can only pin
    * summary invariants.
    *
    * Scale shape: the exact arm is the knnJoin brute-force scan (the
    * baseline an eval needs anyway — you cannot measure recall without
    * the truth); everything else is candidate-pruned or k-sized. Run it
    * on an anchor SAMPLE (nQueries), never the full corpus. */
  def ivfRecallEval(emb: DataFrame, kCells: Int, iters: Int, nProbe: Int,
      nQueries: Int, topK: Int): DataFrame = {
    require(nProbe >= 1 && nQueries >= 1 && topK >= 1,
      s"nProbe=$nProbe nQueries=$nQueries topK=$topK")
    import emb.sparkSession.implicits._
    val cents = kmeansCentroids(emb, kCells, iters)
    val assigned = assignWith(emb, cents)
    val base = withNorm(emb).join(assigned, "vec_id")
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = Par.fanOut(base).crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), col("cid"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"))
    val byQ = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val exact = scored.withColumn("rk", row_number().over(byQ))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val centDf = cents.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "c")
    val probed = centDf.crossJoin(broadcast(qs))
      .select(col("qid"), col("cid"),
        (dot(col("c"), col("qv")) /
          (sqrt(dot(col("c"), col("c"))) * col("qnrm"))).as("ccos"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("ccos").desc, col("cid"))))
      .filter(col("rk") <= nProbe).select(col("qid"), col("cid"))
    val cand = scored.join(broadcast(probed), Seq("qid", "cid"))
    val ivf = cand.withColumn("rk", row_number().over(byQ))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val nCand = cand.groupBy(col("qid")).agg(count(lit(1)).as("n_cand"))
    val hits = exact.join(ivf, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    qs.select(col("qid"))
      .join(nCand, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(topK.toDouble), 4)
          .as("recall"))
  }

  /** EXACTLY-ORACLED matryoshka (dimension-truncation) evaluation —
    * per-anchor recall@`topK` of ranking by the FIRST `prefixDim`
    * dimensions' cosine against the full-dim exact top-`topK` (Kusupati
    * et al. 2022, Matryoshka Representation Learning: nested prefixes
    * of an embedding as cheaper search representations). This is the
    * report that decides how far the serving dimension can drop — the
    * storage/compute complement of the PQ recall report (q171) on the
    * dimension axis instead of the codebook axis: a prefixDim/dim
    * truncation cuts scan bytes and FLOPs by the same ratio with zero
    * index structure. Both rankings are rounded-cosine + nid tiebreak
    * and the intersection is exact, so EVERY row replays in the oracle
    * (list slicing and the same left-fold dot product exist in both
    * engines). One brute-force scan scores BOTH representations in the
    * same candidate row — the truncated vector is a row-local slice,
    * never a second pass. */
  def truncatedRecallEval(emb: DataFrame, prefixDim: Int, nQueries: Int,
      topK: Int): DataFrame = {
    require(prefixDim >= 1 && nQueries >= 1 && topK >= 1,
      s"prefixDim=$prefixDim nQueries=$nQueries topK=$topK")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("tv", slice(col("v"), 1, prefixDim))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("tnrm", sqrt(dot(col("tv"), col("tv"))))
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("tv").as("tqv"), col("nrm").as("qnrm"), col("tnrm").as("tqnrm"))
    val scored = Par.fanOut(base).crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"),
        round(dot(col("tv"), col("tqv")) / (col("tnrm") * col("tqnrm")), 4)
          .as("tcos"))
    val byFull = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val byTrunc = Window.partitionBy(col("qid"))
      .orderBy(col("tcos").desc, col("nid"))
    val exact = scored.withColumn("rk", row_number().over(byFull))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val trunc = scored.withColumn("rk", row_number().over(byTrunc))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val hits = exact.join(trunc, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    qs.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(topK.toDouble), 4)
          .as("recall"))
  }

  /** EXACTLY-ORACLED flat-PQ (ADC) evaluation — per-anchor recall@`topK`
    * of compressed-domain ADC ranking against the exact squared-L2
    * top-`topK`: the quantization-loss report that decides (m, kCodes)
    * before an IVF-PQ deployment. The codebooks are the deterministic
    * [[pqBooks]] training; the per-anchor LUT uses the SAME left-fold
    * dot-expansion `dot(q,q) − 2·dot(q,c) + dot(c,c)` the SQL twin
    * replays, and the ADC sum is a row-local fixed-order fold over the m
    * code columns — every row of the report is verified, the q167
    * pattern applied to the PQ axis.
    *
    * Scale shape: anchors are a driver-collected constant-size sample
    * (broadcast-state regime); ADC scoring is one map-only pass over the
    * CODES table (the compressed corpus — the whole point of PQ); the
    * exact arm is the unavoidable ground-truth scan, bounded by
    * `nQueries`. */
  def pqRecallEval(emb: DataFrame, m: Int, kCodes: Int, iters: Int,
      nQueries: Int, topK: Int): DataFrame = {
    require(nQueries >= 1 && topK >= 1, s"nQueries=$nQueries topK=$topK")
    import emb.sparkSession.implicits._
    val books = pqBooks(emb, m, kCodes, iters)
    val codes = pqEncodeWith(emb, books)
    val st = booksState(books)
    val w = st.head.head._2.length
    def dotArr(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qArr = base.filter(col("vec_id") < nQueries).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val adcCols = qArr.map { case (qid, qv) =>
      val adc = (0 until m).map { j =>
        val qj = qv.slice(j * w, (j + 1) * w)
        val lut = st(j).map { case (cid, c) =>
          cid -> (dotArr(qj, qj) - 2 * dotArr(qj, c) + dotArr(c, c))
        }.sortBy(_._1)
        element_at(map(lut.toSeq.flatMap { case (cid, d) =>
          Seq(lit(cid), lit(d)) }: _*), col(s"c$j"))
      }.reduce(_ + _) // fixed left-assoc order, replayed by the SQL sum
      struct(lit(qid).as("qid"), round(adc, 4).as("adc"))
    }
    val adcScored = codes
      .select(col("vec_id").as("nid"), explode(array(adcCols.toSeq: _*)).as("s"))
      .select(col("s.qid").as("qid"), col("nid"), col("s.adc").as("adc"))
      .filter(col("nid") =!= col("qid"))
    val pqTop = adcScored.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val qDf = qArr.toSeq.map { case (qid, qv) => (qid, qv.toSeq) }
      .toDF("qid", "qv")
    val ex = Par.fanOut(base).crossJoin(broadcast(qDf))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("qv"))
          + dot(col("qv"), col("qv")), 4).as("d2"))
    val exact = ex.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid"))))
      .filter(col("rk") <= topK).select(col("qid"), col("nid"))
    val hits = exact.join(pqTop, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    qDf.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(topK.toDouble), 4)
          .as("recall"))
  }

  /** Exact squared-L2 top-k for one stored query vector — the brute-force
    * baseline the compressed-domain searchers ([[ivfPqTopK]]) are bounded
    * against. Row-local distance + TakeOrderedAndProject; one corpus scan. */
  def l2TopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv"))
    Par.fanOut(emb.filter(col("vec_id") =!= queryId))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("qv"))
          + dot(col("qv"), col("qv")), 4).as("d2"))
      .orderBy(col("d2").asc, col("vec_id"))
      .limit(k)
  }

  /** PQ codebook TRAINING as a persistable artifact: `m` per-subspace
    * Lloyd-trained codebooks (same determinism contract as [[pqCodes]] —
    * kCodes-lowest-vec_id init per subspace, 6-decimal rounded means,
    * ties to lowest cid) returned as (subspace, cid, centroid) rows —
    * m·kCodes rows total, a metadata-sized table an
    * [[graft.sources.IndexStore]] persists once per corpus snapshot.
    * Training cost (m Lloyd loops, each one aggregate scan per
    * iteration) is paid HERE, never in the serving path. */
  def pqBooks(emb: DataFrame, m: Int, kCodes: Int, iters: Int): DataFrame = {
    require(m >= 1 && kCodes >= 1 && iters >= 0,
      s"m=$m kCodes=$kCodes iters=$iters")
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val d = base.select(size(col("v")).as("d")).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible into m=$m subspaces")
    val w = d / m
    val rows = (0 until m).flatMap { j =>
      val sub = base.select(col("vec_id"), slice(col("v"), j * w + 1, w).as("v"))
      val init = sub.orderBy(col("vec_id")).limit(kCodes).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      lloydCentroids(sub, init, iters).map { case (cid, c) => (j, cid, c.toSeq) }
    }
    emb.sparkSession.createDataFrame(rows)
      .toDF("subspace", "cid", "centroid")
  }

  /** Driver-side codebook state from a stored [[pqBooks]] table —
    * m·kCodes rows, the broadcast-state collect every PQ consumer
    * shares. Doubles round-trip parquet bit-exactly, so a persisted
    * book scores identically to a freshly trained one. */
  private def booksState(books: DataFrame)
      : IndexedSeq[Array[(Long, Array[Double])]] = {
    val rows = books
      .select(col("subspace"), col("cid"), asDouble(col("centroid")))
      .collect()
    val bySub = rows.groupBy(_.getInt(0))
    (0 until bySub.size).map { j =>
      bySub(j).map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
        .sortBy(_._1)
    }
  }

  /** Map-only PQ ENCODING against a stored [[pqBooks]] codebook: every
    * vector's m nearest-codeword ids (c0..c_{m-1}), keyed for IVF
    * serving by the coarse `label`. One corpus pass, no shuffle, no
    * join — the books ride as broadcast literals. This (vec_id, label,
    * codes) table is the compressed corpus representation
    * (m·⌈log₂k⌉ bits/vector vs d·4 B) that an
    * [[graft.sources.IndexStore]] persists; at 100 TB serving reads
    * THIS table, never the embeddings. */
  def pqEncodeWith(emb: DataFrame, books: DataFrame): DataFrame = {
    val st = booksState(books)
    val m = st.size
    val w = st.head.head._2.length
    val base = emb.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    st.zipWithIndex.foldLeft(Par.fanOut(base)) { case (df, (cb, j)) =>
      df.withColumn(s"c$j",
        argminStruct(slice(col("v"), j * w + 1, w), cb).getField("cid"))
    }.select(col("vec_id") +: col("label") +:
      (0 until m).map(j => col(s"c$j")): _*)
  }

  /** IVF-PQ PROBE against persisted artifacts — the serving half of the
    * FAISS IVFPQ architecture (Jégou, Douze & Schmid, TPAMI 2011), with
    * every training job OUT of the plan: `books` ([[pqBooks]]) and
    * `cells` ([[ivfCells]]) are tiny stored tables, `codes`
    * ([[pqEncodeWith]]) is the compressed corpus. Per call: collect the
    * m·kCodes books (broadcast-state regime), fold the query's
    * per-subspace squared-distance LUT on the driver (same index order
    * as dot(), so ADC == the expression-side distance), rank cells by
    * query-centroid cosine, then ADC-score the probed cells' CODES
    * (m map-literal lookups per row) into a TakeOrderedAndProject. No
    * Lloyd loop, no full-precision vector touched after the one-row
    * query fetch. Returns (vec_id, adc) ascending, id tiebreak. */
  def ivfPqTopKWith(codes: DataFrame, books: DataFrame, cells: DataFrame,
      emb: DataFrame, queryId: Long, k: Int, nProbe: Int = 3): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k=$k nProbe=$nProbe")
    val st = booksState(books)
    val m = st.size
    val w = st.head.head._2.length
    val qv = emb.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("v"))
      .head().getSeq[Double](0).toArray
    val luts = st.zipWithIndex.map { case (cb, j) =>
      val qj = qv.slice(j * w, (j + 1) * w)
      cb.map { case (cid, c) =>
        val diff2 = qj.zip(c).foldLeft(0.0) { case (acc, (a, b)) =>
          acc + (a - b) * (a - b) }
        cid -> diff2
      }.toMap
    }
    val q = withNorm(emb.filter(col("vec_id") === queryId))
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val probed = cells.crossJoin(broadcast(q))
      .select(col("label"),
        (dot(col("centroid"), col("qv")) /
          (sqrt(dot(col("centroid"), col("centroid"))) * col("qnrm"))).as("ccos"))
      .orderBy(col("ccos").desc, col("label"))
      .limit(nProbe)
      .select(col("label"))
    val adc = (0 until m).map { j =>
      val lut = map(luts(j).toSeq.sortBy(_._1)
        .flatMap { case (cid, dv) => Seq(lit(cid), lit(dv)) }: _*)
      element_at(lut, col(s"c$j"))
    }.reduce(_ + _) // fixed left-assoc order
    codes.filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "label")
      .select(col("vec_id"), round(adc, 4).as("adc"))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(k)
  }

  /** Self-contained IVF-PQ top-k — train + encode + probe in one call,
    * the tests/ad-hoc form. A SERVING path persists [[pqBooks]] /
    * [[pqEncodeWith]] / [[ivfCells]] via [[graft.sources.IndexStore]]
    * once per corpus snapshot and calls [[ivfPqTopKWith]], which never
    * trains (q156 does exactly that). This form composes the same three
    * pieces, so the trained and served code paths cannot drift. */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int, m: Int, kCodes: Int,
      iters: Int, nProbe: Int = 3): DataFrame = {
    val books = pqBooks(emb, m, kCodes, iters)
    ivfPqTopKWith(pqEncodeWith(emb, books), books, ivfCells(emb),
      emb, queryId, k, nProbe)
  }

  /** Symmetric int8 quantization of an embedding column — the storage /
    * bandwidth step every large-scale vector pipeline runs before indexing
    * (a 64-dim float32 vector shrinks 4×; recall loss is bounded by the
    * per-vector scale). Per row: scale = 127 / max|x_i|, q_i =
    * round(x_i · scale) ∈ [-127, 127]. Entirely row-local (higher-order
    * functions, codegen'd) — no shuffle at any scale. A zero vector keeps
    * scale 0 and quantizes to all-zeros rather than dividing by zero. */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val mx = array_max(transform(v, x => abs(x)))
    val scale = when(mx > 0.0, lit(127.0) / mx).otherwise(lit(0.0))
    emb
      .withColumn("q_scale", scale)
      .withColumn("q_vec",
        transform(v, x => round(x * col("q_scale"), 0).cast("int")))
  }

  /** Cosine top-k SERVED from the int8-quantized corpus
    * ([[quantizeInt8]]'s storage form) — the compressed-domain serving
    * path that pairs with IVF-PQ's: score candidates on their int8
    * codes, never touching a float vector. The per-vector scales CANCEL
    * in the cosine ratio (cos ≈ Σqa·qb / (√Σqa² · √Σqb²)), so the
    * approximation is a pure function of the integer codes — integer
    * dots are exact in any engine and the single rounded division is
    * per-row arithmetic, which means the DuckDB oracle replays the FULL
    * top-k result, not just a recall bound (unlike the LSH/IVF/PQ
    * families, whose training or probing is plan-dependent).
    * All-zero quantized vectors (only possible for an all-zero input)
    * are excluded — they have no direction. One corpus scan of the
    * codes + TakeOrderedAndProject; at serving scale the int8 table is
    * 4× smaller than the float corpus and that bandwidth cut is the
    * point. */
  def int8TopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    // PINNED codes (round 17): `qv` is a per-element transform chain
    // (array_max + scale + round per element, interpreted — higher-order
    // functions don't whole-stage-codegen), and the plan references it
    // five times per row (the zero-direction guard's self-dot, the
    // numerator dot, the norm's self-dot) — each reference INLINES the
    // whole quantization. In production the int8 codes are the STORED
    // form (this scaladoc's point); the pin is that storage step.
    val qz = Pin(quantizeInt8(emb)
      .select(col("vec_id"), asDouble(col("q_vec")).as("qv")))
    // the query side needs the same no-direction guard as the corpus:
    // an all-zero query would make every cos8 0/0 = NaN, and Spark
    // sorts NaN GREATEST — k arbitrary rows instead of the correct
    // empty result (DuckDB's empty-q CTE shape)
    val q = qz.filter(col("vec_id") === queryId)
      .filter(dot(col("qv"), col("qv")) > 0.0)
      .select(col("qv").as("qq"))
    Par.fanOut(qz.filter(col("vec_id") =!= queryId))
      .filter(dot(col("qv"), col("qv")) > 0.0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("qv"), col("qq")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("qq"), col("qq")))),
          4).as("cos8"))
      .orderBy(col("cos8").desc, col("vec_id"))
      .limit(k)
  }

  /** X3 approximate top-k: multiprobe hyperplane LSH (L tables × b bits,
    * probing all buckets within hamming 1), exact rescoring of candidates. */
  def annTopK(emb: DataFrame, queryId: Long, k: Int,
      numTables: Int = 4, bitsPerTable: Int = 8, seed: Long = 7L,
      dim: Int = 64): DataFrame = {
    requireDim(emb, dim)
    val pl = planes(numTables, bitsPerTable, dim, seed)
    val corpus = bucketed(Par.fanOut(emb.filter(col("vec_id") =!= queryId)), pl)
    val query = bucketed(emb.filter(col("vec_id") === queryId), pl)
      .select(col("table").as("qtable"), col("bucket").as("qbucket"),
        asDouble(col("embedding")).as("qv"))
    corpus
      .join(broadcast(query), col("table") === col("qtable") &&
        expr("bit_count(bucket ^ qbucket) <= 1"))
      .select(col("vec_id"), col("embedding"), col("qv"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"),
        round(cosine(asDouble(col("embedding")), asDouble(col("qv"))), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** X2/X3 prototypicality pruning (Sorscher et al., "Beyond neural
    * scaling laws: beating power law scaling via data pruning", NeurIPS
    * 2022): train the deterministic Lloyd quantizer
    * ([[kmeansCentroids]] — same init/rounding/tie contract as q136),
    * score every vector by its squared-L2 distance to its OWN cell
    * prototype, and keep only the HARDEST `keepFrac` of each cell (the
    * far-from-prototype examples; the near-duplicates of the prototype
    * are the redundant mass worth dropping when the corpus outgrows the
    * training budget). Scale shape: training is the k-means broadcast-
    * state loop; scoring is map-only against broadcast centroids; the
    * per-cell ranking shuffles once on cid with cell-sized windows —
    * the same partitioning the SemDeDup family already rides. The
    * per-row distance is the identical fold both engines compute, so
    * the rounded score, the (d2 DESC, vec_id) rank, and the
    * ⌈n_cell·keepFrac⌉ boundary all replay exactly. */
  def prototypePrune(emb: DataFrame, k: Int, iters: Int,
      keepFrac: Double): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac=$keepFrac")
    val cents = kmeansCentroids(emb, k, iters)
    val assigned = Par.fanOut(
        emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      .withColumn("a", argminStruct(col("v"), cents))
      .select(col("vec_id"), col("a").getField("cid").as("cid"),
        (round(col("a").getField("d"), 6) + lit(0.0)).as("d2"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("d2").desc, col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(w))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .select(col("vec_id"), col("cid"), col("d2"),
        when(col("rk") <= ceil(col("n_cell") * keepFrac), 1)
          .otherwise(0).as("kept"))
  }

  /** 1-bit (sign) binary quantization: bit i of `bits` is set iff
    * embedding[i] > 0, packed into a single 64-bit word (dim must be
    * ≤ 64 — one long per vector, a 32× compression over float32 and the
    * cheapest storage form any vector pipeline carries). Row-local
    * (indexed `transform` + fold, codegen'd) — no shuffle at any scale.
    * Distinct powers of two per index make the additive fold equal the
    * bitwise OR, so bit 63 (Long.MIN_VALUE as a summand) is safe. */
  def binaryQuantize(emb: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 64, s"dim=$dim must fit one 64-bit word")
    requireDim(emb, dim)
    val v = asDouble(col("embedding"))
    val bits = aggregate(
      transform(v, (x, i) =>
        when(x > 0.0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, e) => acc + e)
    emb.withColumn("bits", bits)
  }

  /** X3/X9 binary-quantized serving: Hamming-distance prescreen on the
    * 1-bit codes ([[binaryQuantize]]) followed by exact cosine rerank of
    * the `rerank` nearest code words — the modern two-stage
    * compressed-domain retrieval shape (sign-random-projection LSH,
    * Charikar STOC 2002; binary-quantize-then-rescore as deployed in
    * production vector stores). The prescreen touches ONE long per
    * corpus vector (`bit_count(bits ^ qbits)`, codegen'd integer ops —
    * at 10^10 vectors that is an 80 GB scan instead of a 2.5 TB float
    * scan), and only `rerank` rows ever load their float vector for the
    * exact pass. Both stages are TakeOrderedAndProject per-partition
    * heaps — no global sort. Determinism: the prescreen ranks by
    * (hamming, vec_id) and the rerank by (rounded cosine DESC, vec_id),
    * all engine-exact integer / per-row arithmetic, so the DuckDB oracle
    * replays the FULL result — including the fixed prescreen boundary —
    * not just a recall bound. */
  def binaryTopK(emb: DataFrame, queryId: Long, k: Int, rerank: Int = 32,
      dim: Int = 64): DataFrame = {
    require(k >= 1 && rerank >= 1, s"k=$k rerank=$rerank")
    // prescreen frame carries ONLY (vec_id, bits) — one long of payload
    // per corpus row; the float vector joins back for the ≤ rerank
    // survivors (VERDICT r7 #2: the candidate row width IS the scan)
    val bq = binaryQuantize(emb, dim).select(col("vec_id"), col("bits"))
    val q = binaryQuantize(emb.filter(col("vec_id") === queryId), dim)
      .select(col("bits").as("qbits"), asDouble(col("embedding")).as("qv"))
    val survivors = Par.fanOut(bq.filter(col("vec_id") =!= queryId))
      .crossJoin(broadcast(q.select(col("qbits"))))
      .withColumn("hd", expr("bit_count(bits ^ qbits)"))
      .orderBy(col("hd"), col("vec_id"))
      .limit(rerank)
      .select(col("vec_id"), col("hd"))
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(broadcast(survivors), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("hd"),
        (round(cosine(col("v"), col("qv")), 4) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched compressed-domain serving: [[binaryTopK]] for EVERY query
    * row at once — the kNN-join form a retrieval pipeline actually runs
    * (score a whole query batch, not one id). The prescreen cross join
    * ships ONE long per (corpus row × query) and both per-query
    * rankings are rank-LIMIT filters, which Spark rewrites to
    * WindowGroupLimit — per-partition top-`rerank` heaps BEFORE the qid
    * shuffle, so the shuffle carries ≤ partitions·queries·rerank rows,
    * never the corpus. The prescreen frame holds ONLY (vec_id, bits) ×
    * (qid, qbits) — no float column anywhere in the candidate rows
    * (VERDICT r7 #2); the ≤ queries·rerank survivors join their float
    * vectors back (survivor-side broadcast hash joins) for the exact
    * pass. Same two deterministic boundaries as [[binaryTopK]] — the
    * oracle replays the full result.
    *
    * `excludeSelf` (default true) drops corpus rows whose vec_id equals
    * the query's qid — the self-match suppression wanted when queries
    * are SAMPLED FROM the corpus (q185's shape), which assumes corpus
    * and queries share one id space. When queries come from a disjoint
    * id space, pass excludeSelf = false: with it on, an unrelated
    * corpus vector that happens to collide with a qid would be silently
    * excluded from that query's results (ADVICE r7). */
  def binaryKnnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int, dim: Int = 64, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && rerank >= 1, s"k=$k rerank=$rerank")
    val bq = binaryQuantize(corpus, dim).select(col("vec_id"), col("bits"))
    val qs = binaryQuantize(queries, dim)
      .select(col("vec_id").as("qid"), col("bits").as("qbits"))
    val wPre = Window.partitionBy(col("qid")).orderBy(col("hd"), col("vec_id"))
    val wCos = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val cand = Par.fanOut(bq).crossJoin(broadcast(qs))
    val survivors = (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid"))
      else cand)
      .withColumn("hd", expr("bit_count(bits ^ qbits)"))
      .withColumn("rk", row_number().over(wPre))
      .filter(col("rk") <= rerank)
      .select(col("qid"), col("vec_id"), col("hd"))
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        asDouble(col("embedding")).as("qv"))), "qid")
      .withColumn("cos", round(cosine(col("v"), col("qv")), 4) + lit(0.0))
      .withColumn("crk", row_number().over(wCos))
      .filter(col("crk") <= k)
      .select(col("qid"), col("vec_id"), col("hd"), col("cos"))
  }

  /** The DISTRIBUTED stage of [[mmrRerank]] — the integer-scored
    * top-`poolN` pool (broadcast query, TakeOrderedAndProject over the
    * corpus scan, [[cosineTopK]]'s shape), carrying each candidate's
    * vector + norm for the pairwise stage; mmrRerank pins it with an
    * eager localCheckpoint before the bounded driver fold. */
  private def mmrPool(emb: DataFrame, queryId: Long, poolN: Int): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") === queryId))
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    withNorm(Par.fanOut(emb.filter(col("vec_id") =!= queryId)))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("nrm"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
          * 10000, 0).cast("long").as("rel_e4"))
      .orderBy(col("rel_e4").desc, col("vec_id"))
      .limit(poolN)
  }

  /** X3 MMR diversified re-rank (Maximal Marginal Relevance, Carbonell &
    * Goldstein, SIGIR 1998): from the exact top-`poolN` candidates for
    * stored query `queryId`, greedily pick `k` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the standard
    * redundancy-suppressing re-rank a retrieval pipeline applies after
    * [[cosineTopK]] so the result page isn't `k` near-copies of the same
    * document. λ is the rational `lamNum/lamDen` and every score is
    * integer: relevance and pairwise cosines are quantized to 1e-4 units
    * (`round(cos·10⁴)` as BIGINT), the marginal is the exact integer
    * `lamNum·rel − (lamDen−lamNum)·maxSim` (units: 1e-4/lamDen), and ties
    * break on smaller vec_id — the greedy trace replays bit-identically
    * on any engine. The first pick has no diversity term: `lamNum·rel`.
    *
    * Scale shape: the corpus is touched ONLY by the distributed top-pool
    * scan (broadcast query, TakeOrderedAndProject — [[cosineTopK]]'s
    * plan); the pairwise matrix and the greedy loop run over the
    * `poolN`-row pool (≤ 256 by contract), a constant independent of
    * corpus size — bounded driver work like [[graft.operators.Behavior
    * .funnelTiming]]'s stats fold, NOT a data-sized driver loop. The
    * pool is pinned with an eager localCheckpoint so the pairwise stage
    * and the collect don't replay the corpus scan. */
  def mmrRerank(emb: DataFrame, queryId: Long, poolN: Int, k: Int,
      lamNum: Int, lamDen: Int): DataFrame = Pin.scope {
    require(k >= 1 && poolN >= k && poolN <= 256,
      s"poolN=$poolN k=$k (need 1 <= k <= poolN <= 256)")
    require(lamDen >= 1 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda=$lamNum/$lamDen not in [0, 1]")
    val spark = emb.sparkSession
    val pool = Pin(mmrPool(emb, queryId, poolN))
    val a = pool.select(col("vec_id").as("sa"), col("v").as("va"),
      col("nrm").as("na"))
    val b = pool.select(col("vec_id").as("sb"), col("v").as("vb"),
      col("nrm").as("nb"))
    val simRows = a.crossJoin(b).filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb"))
          * 10000, 0).cast("long").as("sim_e4"))
      .collect()
    val sim = simRows.flatMap { r =>
      val (x, y, s) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((x, y) -> s, (y, x) -> s)
    }.toMap
    val cands = pool.select(col("vec_id"), col("rel_e4")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    import spark.implicits._
    mmrGreedy(cands, sim, k, lamNum, lamDen)
      .toDF("pick", "vec_id", "rel_e4", "mmr")
  }

  /** One greedy MMR trace over a bounded candidate pool — the shared
    * driver fold of [[mmrRerank]] and [[mmrRerankBatch]]: all-integer
    * marginals `lamNum·rel − (lamDen−lamNum)·maxSim`, ties to the
    * smaller id, first pick `lamNum·rel`. */
  private def mmrGreedy(cands: Seq[(Long, Long)],
      sim: Map[(Long, Long), Long], k: Int, lamNum: Int, lamDen: Int)
      : Seq[(Int, Long, Long, Long)] = {
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long)] // (pick, id, rel, mmr)
    val remaining = scala.collection.mutable.LinkedHashSet(cands: _*)
    for (pick <- 1 to math.min(k, cands.length)) {
      val best = remaining.map { case (id, rel) =>
        val mmr =
          if (selected.isEmpty) lamNum.toLong * rel
          else lamNum.toLong * rel - (lamDen - lamNum).toLong *
            selected.map(s => sim((id, s._2))).max
        (id, rel, mmr)
      }.minBy { case (id, _, mmr) => (-mmr, id) }
      selected += ((pick, best._1, best._2, best._3))
      remaining.remove((best._1, best._2))
    }
    selected.toSeq
  }

  /** The DISTRIBUTED stage of [[mmrRerankBatch]] — one corpus scan
    * scoring every broadcast query, cut to the per-qid top-`poolN`
    * through a rank window (WindowGroupLimit partial heaps). */
  private def mmrBatchPool(emb: DataFrame, queries: DataFrame,
      poolN: Int): DataFrame = {
    val qs = withNorm(queries).select(col("vec_id").as("qid"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rel_e4").desc, col("vec_id"))
    withNorm(Par.fanOut(emb))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("v"), col("nrm"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
          * 10000, 0).cast("long").as("rel_e4"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= poolN).drop("rk")
  }

  /** [[mmrRerank]] for a BATCH of query vectors — the SERVING form:
    * ONE corpus scan scores every query (broadcast query side,
    * [[knnJoin]]'s shape), per-query top-`poolN` through a rank window
    * (WindowGroupLimit partial heaps — the per-query shuffle is pool-
    * sized, never corpus-sized), one per-qid pairwise stage over the
    * pooled candidates (|queries|·poolN² rows), then the same integer
    * greedy per query on the driver — bounded by |queries|·poolN ≤
    * 4096 rows by contract, not by the corpus. Output: (qid, pick,
    * vec_id, rel_e4, mmr), the page each query serves. */
  def mmrRerankBatch(emb: DataFrame, queries: DataFrame, poolN: Int,
      k: Int, lamNum: Int, lamDen: Int): DataFrame = Pin.scope {
    require(k >= 1 && poolN >= k && poolN <= 64,
      s"poolN=$poolN k=$k (need 1 <= k <= poolN <= 64)")
    require(lamDen >= 1 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda=$lamNum/$lamDen not in [0, 1]")
    val spark = emb.sparkSession
    val pool = Pin(mmrBatchPool(emb, queries, poolN))
    require(pool.count() <= 4096, "batch pool over the driver contract")
    val a = pool.select(col("qid"), col("vec_id").as("sa"),
      col("v").as("va"), col("nrm").as("na"))
    val b = pool.select(col("qid"), col("vec_id").as("sb"),
      col("v").as("vb"), col("nrm").as("nb"))
    val simByQ = a.join(b, Seq("qid")).filter(col("sa") < col("sb"))
      .select(col("qid"), col("sa"), col("sb"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb"))
          * 10000, 0).cast("long").as("sim_e4"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.flatMap { r =>
        val (x, y, s) = (r.getLong(1), r.getLong(2), r.getLong(3))
        Seq((x, y) -> s, (y, x) -> s)
      }.toMap }
    val candsByQ = pool.select(col("qid"), col("vec_id"),
        col("rel_e4")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getLong(2))).toSeq }
    import spark.implicits._
    candsByQ.keys.toSeq.sorted.flatMap { q =>
      mmrGreedy(candsByQ(q), simByQ.getOrElse(q, Map.empty), k,
        lamNum, lamDen)
        .map { case (pick, id, rel, mmr) => (q, pick, id, rel, mmr) }
    }.toDF("qid", "pick", "vec_id", "rel_e4", "mmr")
  }

  /** Per-rank nDCG discounts round(10⁶/log₂(r+1)) for r = 1..10 and
    * their prefix sums — LITERAL constants (computed offline, the
    * SPRT micro-nat convention), so the metric chain below is pure
    * integer with no runtime log. */
  private val NdcgDiscMicro: Seq[Long] = Seq(1000000L, 630930L,
    500000L, 430677L, 386853L, 356207L, 333333L, 315465L, 301030L,
    289065L)

  /** RANKED-RETRIEVAL METRICS over the exact cosine top-k — the eval
    * harness every retrieval stack reports: per query (every
    * `queryEvery`-th vector; self excluded), binary relevance = label
    * agreement, then
    *   MRR        = mean of 10⁶ div first-relevant-rank (0 if none),
    *   nDCG@k     = DCG·10⁶ div IDCG with the literal discount table
    *                [[NdcgDiscMicro]] (IDCG = prefix sum over
    *                min(R, k) with R = corpus relevant count − self),
    *   precision@k = relevant-in-top-k·10⁶ div k,
    * each exact-integer per query and integer-averaged — every
    * division truncating, so both engines replay the identical
    * report. Where q167/q171/q185 grade an ANN index's RECALL against
    * the exact top-k, this grades the RANKING ITSELF against labels —
    * the quality of the embedding space, not of the index.
    *
    * Scale shape: one broadcast of the query side, one corpus scan
    * scoring queries × corpus (the q42 serving shape; at 100 TB
    * restrict candidates to IVF cells first — [[ivfTopKWith]]'s
    * prune, same plan below the scoring join), a per-query window cut
    * at k, and label-sized + 1-row aggregates. */
  def knnRankingMetrics(emb: DataFrame, queryEvery: Long,
      k: Int, maxQueryId: Option[Long] = None): DataFrame = {
    require(queryEvery >= 1, s"queryEvery=$queryEvery")
    require(k >= 1 && k <= NdcgDiscMicro.size,
      s"k=$k (discount table covers 1..${NdcgDiscMicro.size})")
    val base = emb.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val qs = base.filter(pmod(col("vec_id"), lit(queryEvery)) === 0 &&
      maxQueryId.map(col("vec_id") < _).getOrElse(lit(true)))
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val labCounts = base.groupBy(col("label").as("qlab"))
      .agg(count(lit(1)).as("n_lab"))
    val scored = Par.fanOut(base).crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlab"),
        (col("label") === col("qlab")).cast("int").as("rel"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"),
        col("vec_id").as("nid"))
    rankingMetricsTail(scored, labCounts, k)
  }

  /** The shared metric tail of [[knnRankingMetrics]] /
    * [[ivfRankingMetricsWith]]: from the scored candidate frame
    * (qid, qlab, rel, cos, nid) to the one-row
    * (n_queries, mean_ndcg_ppm, mrr_ppm, mean_prec_ppm) report —
    * per-query rank cut at k, literal-discount DCG, label-count IDCG,
    * exact-integer ppm metrics, integer-averaged. */
  private def rankingMetricsTail(scored: DataFrame,
      labCounts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val discArr = array(NdcgDiscMicro.take(k).map(lit): _*)
    val cumArr = array(
      NdcgDiscMicro.take(k).scanLeft(0L)(_ + _).tail.map(lit): _*)
    val perQ = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy(col("qid"), col("qlab"))
      .agg(sum(col("rel") * element_at(discArr, col("rnk"))).as("dcg"),
        min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
        sum(col("rel")).as("n_rel_k"))
      .join(broadcast(labCounts), "qlab")
      .withColumn("idcg", when(col("n_lab") - 1 <= 0, 0L)
        .otherwise(element_at(cumArr,
          least(col("n_lab") - 1, lit(k.toLong)).cast("int"))))
      .select(col("qid"),
        coalesce(expr("dcg * 1000000 div nullif(idcg, 0)"), lit(0L))
          .as("ndcg_ppm"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("rr_ppm"),
        expr(s"n_rel_k * 1000000 div $k").as("prec_ppm"))
    perQ.agg(count(lit(1)).as("n_queries"),
      expr("sum(ndcg_ppm) div nullif(count(1), 0)").as("mean_ndcg_ppm"),
      expr("sum(rr_ppm) div nullif(count(1), 0)").as("mrr_ppm"),
      expr("sum(prec_ppm) div nullif(count(1), 0)")
        .as("mean_prec_ppm"))
  }

  /** EXACTLY-ORACLED IVF-PRUNED ranked-retrieval metrics — the
    * 100 TB serving form of [[knnRankingMetrics]]: the same
    * MRR / nDCG@k / precision@k report, but each of the `nQueries`
    * FIXED queries (vec_id < nQueries) scores only the members of its
    * `nProbe` closest cells of an ALREADY-TRAINED codebook `cents` (the
    * [[centroidsOf]] array form: [[kmeansCentroids]] — q136/q167's
    * init/rounding/tie-break contract — or a persisted
    * [[graft.sources.IndexStore]] snapshot), never the whole corpus.
    * Everything downstream of the quantizer is deterministic
    * (centroid-cosine probe with cid tiebreak, rounded candidate cosine
    * with nid tiebreak, literal discount table), so EVERY number
    * replays in the DuckDB oracle — unlike the summary-pinned ANN
    * serving oracles (q43/q53/q138/q156).
    *
    * Scale shape: no training job; centroids are k×d plan literals;
    * assignment is map-only (the [[assignWithVec]] no-SMJ lesson); the
    * probe table is (nQueries × nProbe) broadcast-sized; the candidate
    * scan touches only probed-cell members (cell-bounded, not corpus ×
    * queries); the metric tail is per-query-window + 1-row
    * aggregates. The load model is FIXED-query by construction —
    * the corpus-proportional eval set that made the brute-force
    * form quadratic under replication is structurally impossible
    * here. */
  def ivfRankingMetricsWith(emb: DataFrame,
      cents: Array[(Long, Array[Double])],
      nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    // validate BEFORE the eager assignment pin below, so a bad k/nProbe
    // fails in microseconds instead of after a full argmin pass
    require(nProbe >= 1 && nQueries >= 1,
      s"nProbe=$nProbe nQueries=$nQueries")
    require(k >= 1 && k <= NdcgDiscMicro.size,
      s"k=$k (discount table covers 1..${NdcgDiscMicro.size})")
    // materialize the assigned corpus ONCE — this frame IS the IVF
    // member index a serving deployment stores (q267's append index
    // shape). Without the pin, the k-literal argmin expression
    // re-evaluates per CANDIDATE row inside the probe joins, where the
    // oversized generated code drops to interpreted mode (measured
    // 40 s vs 0.5 s on the 100x slice for the exact same plan).
    val base = Pin(emb.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cid", argminStruct(col("v"), cents).getField("cid")))
    val spark = base.sparkSession
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val labCounts = base.groupBy(col("label").as("qlab"))
      .agg(count(lit(1)).as("n_lab"))
    val probed = centroidsDF(spark, cents).crossJoin(broadcast(qs))
      .select(col("qid"), col("cid"),
        (dot(col("c"), col("qv")) /
          (sqrt(dot(col("c"), col("c"))) * col("qnrm"))).as("ccos"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("ccos").desc, col("cid"))))
      .filter(col("rk") <= nProbe).select(col("qid"), col("cid"))
    val scored = Par.fanOut(base).join(broadcast(probed), "cid")
      .join(broadcast(qs), "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlab"),
        (col("label") === col("qlab")).cast("int").as("rel"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"),
        col("vec_id").as("nid"))
    rankingMetricsTail(scored, labCounts, k)
  }

  /** IVF RANGE (RADIUS) SEARCH — the "everything within cosine ≥ τ"
    * companion of top-k serving (dedup-by-similarity, compliance
    * sweeps, and recall-oriented retrieval all want the NEIGHBORHOOD,
    * not a fixed k): each of the `nQueries` fixed queries scores only
    * its `nProbe` closest cells of the trained quantizer (the q309
    * prune) and keeps candidates with rounded cosine ≥ τ. Everything
    * downstream of the quantizer is deterministic (round-4 cosine,
    * nid tiebreak), so every row — neighbor count, top cosine, top
    * id — replays exactly in the DuckDB oracle. Queries with an
    * empty radius emit (qid, 0, NULL, NULL) — absence is data.
    *
    * Scale shape: [[ivfRankingMetricsWith]]'s serving plan with a
    * radius filter instead of the rank cut: map-only assignment
    * (pinned — the q309 argmin lesson), broadcast probe table,
    * cell-bounded candidate scan, per-query aggregates. */
  def ivfRangeSearchWith(emb: DataFrame,
      cents: Array[(Long, Array[Double])],
      nProbe: Int, nQueries: Int, tau: Double): DataFrame = {
    require(nProbe >= 1 && nQueries >= 1,
      s"nProbe=$nProbe nQueries=$nQueries")
    require(tau > -1.0 && tau <= 1.0, s"tau=$tau")
    val spark = emb.sparkSession
    val base = Pin(emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cid", argminStruct(col("v"), cents).getField("cid")))
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val probed = centroidsDF(spark, cents).crossJoin(broadcast(qs))
      .select(col("qid"), col("cid"),
        (dot(col("c"), col("qv")) /
          (sqrt(dot(col("c"), col("c"))) * col("qnrm"))).as("ccos"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("ccos").desc, col("cid"))))
      .filter(col("rk") <= nProbe).select(col("qid"), col("cid"))
    val scored = Par.fanOut(base).join(broadcast(probed), "cid")
      .join(broadcast(qs), "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4)
          .as("cos"),
        col("vec_id").as("nid"))
      .filter(col("cos") >= tau)
    val counts = scored.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_neighbors"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val top = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("cos").as("top_cos"),
        col("nid").as("top_id"))
    qs.select(col("qid"))
      .join(counts, Seq("qid"), "left").join(top, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("top_cos"), col("top_id"))
      .orderBy(col("qid"))
  }

  /** IVF CODEBOOK REBUILD as a manifest maintenance op (VERDICT r15
    * #8) — closes the last manual step in the vector-index lifecycle:
    * train offline (q136) → stream-append members ([[graft.streaming
    * .IvfIndexStream]]) → serve from the maintained index (q309/q332)
    * → monitor drift (q186) → **rebuild on drift (THIS op)**. One
    * call: retrain the quantizer from the CURRENT member corpus
    * (same [[kmeansCentroids]] init/rounding/tie-break contract as
    * the original offline training — retraining is a deterministic
    * function of the member embeddings, so a crash-resumed rebuild
    * recomputes the identical codebook), reassign every member
    * map-only ([[assignWithVec]] — the q309 argmin-pin lesson), and
    * swap BOTH tables as txn-marked snapshot overwrites (the
    * [[graft.sources.ManifestTable.optimizeZorder]] commit pattern:
    * new files + pointer swap; readers pinned to the old versions
    * keep their exact file sets until vacuum, so serving off the
    * pre-rebuild snapshot continues untorn through the swap).
    *
    * Exactly-once: each table's overwrite carries `txnId` and is
    * skipped when already committed — a replayed or crash-resumed
    * rebuild is a no-op on committed tables and deterministically
    * identical on the rest (centroids commit FIRST; a resume between
    * the two commits retrains the bit-identical codebook from the
    * unchanged embeddings and completes the member swap).
    *
    * The two tables swap in two commits, not one — the standard
    * two-table maintenance caveat: a reader that grabs the NEW
    * codebook with the OLD member snapshot mid-swap would mis-probe,
    * so serving readers pin (codebook version, member version) pairs
    * — in-flight queries hold their pre-swap pair; new queries pick
    * up the post-swap pair. Post-swap, serve-from-maintained ==
    * serve-from-retrain-from-scratch (spec-pinned at the
    * ranking-metric level — the q267 invariant through the rebuild).
    *
    * Scale shape: training = [[kmeansCentroids]]'s iteration cost
    * over the member corpus; reassignment = ONE map-only pass (k·d
    * broadcast literals); each commit = one parquet write + pointer
    * swap. Returns the member table's committed version. */
  def ivfRebuild(spark: org.apache.spark.sql.SparkSession,
      memberDir: String, centroidDir: String, kCells: Int, iters: Int,
      txnId: String): Long = {
    import graft.sources.ManifestTable
    if (ManifestTable.hasCommittedTxn(memberDir, txnId))
      return ManifestTable.currentVersion(memberDir) // full replay
    val members = ManifestTable.read(spark, memberDir)._2
    val cents = kmeansCentroids(
      members.select(col("vec_id"), col("embedding")), kCells, iters)
    val keep = if (members.columns.contains("label")) Seq("label") else Nil
    // pinned BEFORE the swaps: the reassignment must materialize from
    // the pre-swap member files (lineage would legally re-read them —
    // they survive until vacuum — but the pin also keeps the k-literal
    // argmin out of the write stage, the q309 codegen lesson)
    val reassigned = Pin(assignWithVec(members.drop("cid"), cents, keep))
    try {
      if (!ManifestTable.hasCommittedTxn(centroidDir, txnId))
        ManifestTable.overwriteWithRetry(spark, centroidDir,
          centroidsDF(spark, cents), txn = Some(txnId))
      ManifestTable.overwriteWithRetry(spark, memberDir, reassigned,
        txn = Some(txnId))
    } finally Pin.release(reassigned)
  }
}
