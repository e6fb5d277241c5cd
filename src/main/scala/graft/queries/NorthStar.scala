package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Behavior, Curation, Dedup, Graph, Labeling, Learn, Multimodal, Par, Pin, Profiling, QuantileState, Retrieval, Similarity, TextAnalysis, TimeSeries, Upsert}
import graft.plans.TextExpressions

/** North-star extension queries (SURVEY.md §2.12): dedup, similarity
  * search, text analysis, multimodal — over `documents` / `embeddings`. */
object NorthStar {

  /** X1 exact dedup: representative id + copy count per distinct text
    * (keyed by md5 so the output stays narrow). */
  def exactDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.exactDedup(Tables.documents(spark, d), "text", "doc_id")
      .select(md5($"text").as("text_md5"), $"keep_id", $"n_copies")
      .orderBy($"keep_id")
  }

  /** X2 exact trigram-shingle Jaccard near-dup pairs (J >= 0.8). */
  def jaccardPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.jaccardPairs(Tables.documents(spark, d), 0.8)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X2 MinHash+LSH near-dups, exact-verified; at J>=0.8 candidate recall
    * is 1-1e-7, so the oracle is the same SQL as [[jaccardPairs]]. */
  def minhashLsh(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.minhashLshPairs(Tables.documents(spark, d), 0.8)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X2 connected-components cluster assignment over the near-dup pair
    * graph (J >= 0.8): iterative min-label propagation; component = min
    * doc_id of the transitive cluster. Oracle: DuckDB recursive CTE over
    * the same pairs. */
  def ccComponents(spark: SparkSession, d: String): DataFrame = Pin.scope {
    import spark.implicits._
    Dedup.connectedComponents(
      Dedup.jaccardPairs(Tables.documents(spark, d), 0.8))
      .orderBy($"doc_id")
  }

  /** X3 per-label centroid of the embedding vectors, long-form
    * (label, pos, centroid coordinate) — the k-means "update" half-step
    * and the shape every clustering/ANN-training pipeline needs at scale:
    * posexplode keeps the shuffle key (label, pos) fine-grained instead of
    * reducing whole arrays. */
  def labelCentroids(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, d)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      // + 0.0 canonicalizes IEEE negative zero: DuckDB's round keeps the
      // sign (-0.0) where Spark's BigDecimal path yields +0.0, and the
      // external gate hashes the raw float bits
      .agg((round(avg($"x".cast("double")), 4) + lit(0.0)).as("cx"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"pos")
  }

  /** X2 SimHash banding near-dups (hamming <= 3), oracle-checkable via an
    * in-query exactness bound: the MurmurHash3-based 64-bit fingerprint
    * itself has no DuckDB equivalent, but identical-text docs provably get
    * identical fingerprints and the 4×16 banding is pigeonhole-complete
    * for hamming ≤ 3 — so EVERY exact-duplicate pair must surface with
    * hamming 0. The fixture corpus has no text-identical pairs at the
    * correctness SF, so the bound would be vacuous on the raw corpus;
    * instead the query unions each doc with an id-offset clone of itself
    * (a deterministic transform DuckDB mirrors exactly), runs the full
    * banding join over the doubled corpus, and reduces to the recall
    * summary — every one of the |docs| planted pairs (plus any natural
    * text dups) must be found. OperatorSpec still pins the pair-level
    * semantics. The dup-pair join keys on md5(text) so full document text
    * never rides the shuffle. */
  def simhashPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, d).select($"doc_id", $"text")
    val docs = base.unionByName(
      base.select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
    val pairs = Dedup.simhashPairs(docs, 3)
    val keyed = docs.select($"doc_id", md5($"text").as("k"))
    val dupPairs = keyed.select($"doc_id".as("doc_a"), $"k")
      .join(keyed.select($"doc_id".as("doc_b"), $"k"), Seq("k"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b")
    dupPairs.join(pairs, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_dup_pairs"),
        coalesce(sum(when($"hamming" === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_found_h0"))
      .select($"n_dup_pairs", $"n_found_h0",
        ($"n_dup_pairs" === $"n_found_h0").cast("int").as("all_found"))
  }

  /** X3 exact brute-force top-10 cosine for stored query vec 0. */
  def cosineTopK(spark: SparkSession, d: String): DataFrame =
    Similarity.cosineTopK(Tables.embeddings(spark, d), 0L, 10)

  /** X2 embedding-cosine near-dup pairs (cos >= 0.4 — this synthetic
    * embedding space tops out near 0.5, so 0.4 marks its "near-dups"). */
  def cosinePairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.cosinePairs(Tables.embeddings(spark, d), 0.4)
      .orderBy($"id_a", $"id_b")
  }

  /** X3 k-NN join: top-3 neighbors for each of the 10 query vectors. */
  def knnJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Similarity.knnJoin(emb.filter($"vec_id" >= 10), emb.filter($"vec_id" < 10), 3)
      .select($"qid", $"nid", $"rnk", $"cos")
      .orderBy($"qid", $"rnk")
  }

  /** Reduce an approximate top-k result to an oracle-checkable summary:
    * result size, got-all-k, and recall@k ≥ `minOverlap`/k against the
    * exact brute-force top-k for the same query — the in-query exactness
    * bound that converts an engine-specific ANN answer into deterministic
    * booleans DuckDB can assert. Both sets are deterministic on this
    * fixture (fixed data, fixed seeds), so the booleans are stable; a
    * regression in the ANN path flips them and fails the hash gate. */
  private def annSummary(approx: DataFrame, exact: DataFrame,
      k: Int, minOverlap: Int): DataFrame = {
    val n = approx.agg(count(lit(1)).as("n_results"))
    val o = approx.select(col("vec_id"))
      .join(exact.select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
    n.crossJoin(o).select(lit(0L).as("qid"), col("n_results"),
      (col("n_results") === k).cast("int").as("got_k"),
      (col("n_overlap") >= minOverlap).cast("int").as("recall_ok"))
  }

  /** X3 ANN (multiprobe hyperplane LSH) top-10 for query vec 0, reduced
    * to the [[annSummary]] exactness bound. Measured overlap on the
    * fixtures: 3/10 at sf0.01 AND sf0.1 (random unclustered embeddings
    * bound LSH recall; the bound asserts ≥ 2). OperatorSpec still pins
    * pair-level recall on the raw operator. */
  def annTopK(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    annSummary(Similarity.annTopK(emb, 0L, 10),
      Similarity.cosineTopK(emb, 0L, 10), 10, 2)
  }

  /** X3 IVF ANN top-10 for query vec 0, reduced to the [[annSummary]]
    * exactness bound (measured overlap 4/10 at sf0.01 and sf0.1; bound
    * ≥ 2). The codebook (per-label centroids) is TRAINED ONCE and
    * persisted ([[graft.sources.IndexStore]]); each call probes the
    * stored centroids — no per-call corpus aggregation (VERDICT r4 #6). */
  def ivfTopK(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val cells = graft.sources.IndexStore.ensure(spark, ivfIndexDir(d),
      graft.sources.IndexStore.sourceFingerprint(s"$d/embeddings.parquet",
        "ivf-cells=per-label-mean")) {
      Similarity.ivfCells(emb)
    }
    annSummary(Similarity.ivfTopKWith(cells, emb, 0L, 10),
      Similarity.cosineTopK(emb, 0L, 10), 10, 2)
  }

  /** Per-SF location of the persisted IVF codebook. */
  def ivfIndexDir(d: String): String =
    s"spark-warehouse/graft_index/ivf_${new java.io.File(d).getName}"

  /** Per-SF root of the INCREMENTAL IVF index (frozen codebook + the
    * growing member ManifestTable). The SOURCE FINGERPRINT is part of
    * the path (first 12 hex of the IndexStore digest): the state dirs
    * have create-once/txn-no-op guards, so a regenerated source at the
    * same path must land in a FRESH root — a stale codebook + member
    * table would otherwise survive the guards and fail q267's
    * assignment-diff forever (the IndexStore "a stale read is silently
    * wrong" rule, applied to manifest-backed state). */
  def ivfAppendDir(d: String): String = {
    val fp = graft.sources.IndexStore.sourceFingerprint(
      s"$d/embeddings.parquet", "ivf-append=v1").take(12)
    s"spark-warehouse/graft_index/ivf_append_${new java.io.File(d).getName}_$fp"
  }

  /** X3 INCREMENTAL IVF INDEX APPEND, oracled as an exact identity
    * ([[graft.streaming.IvfIndexStream]]): the even-id half of the
    * corpus trains the frozen per-label-mean codebook (q138's recipe)
    * and seeds the persisted member table; the odd-id half then
    * ARRIVES and is appended through the maintenance sink — map-only
    * assignment against the frozen codebook, one txn-marked snapshot
    * (re-running this query replays the same txn and is a no-op, so
    * the state is stable across Verify/Bench runs). The oracle pins
    * the deployment invariant exactly: because assignment against a
    * FIXED codebook is a pure per-row function, serving the top-10
    * over the APPENDED index is value-identical, rank by rank (id and
    * rounded cosine), to serving over a full REBUILD (the whole corpus
    * re-assigned against the same codebook), and the two member
    * tables' assignments disagree on zero vec_ids. Output: (rank,
    * same, assign_diff) — all 1/0 literals the Spark side computes
    * honestly; any divergence flips a flag and fails the gate.
    *
    * Scale shape: the append is O(batch) map-only + one commit; both
    * serving arms are the q138 probe (cell-pruned scan, broadcast
    * query); the assignment diff is one key-sized full-outer join.
    * Rebuild-on-drift stays offline (q186 is the trigger). */
  def ivfAppendServe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ManifestTable
    val emb = Tables.embeddings(spark, d)
    val init = emb.filter(pmod($"vec_id", lit(2L)) === 0)
    val incoming = emb.filter(pmod($"vec_id", lit(2L)) === 1)
    // hoisted: ONE fingerprint walk, and centroids + members are
    // atomically under the same root even if the source changes
    // between the two lookups
    val idxRoot = ivfAppendDir(d)
    val centDir = s"$idxRoot/centroids"
    val memDir = s"$idxRoot/members"
    ManifestTable.create(centDir)
    ManifestTable.create(memDir)
    // frozen codebook: per-label mean of the INITIAL corpus, committed
    // once (the offline training step of a real deployment). Txn-marked
    // like the member init: a bare emptiness check is check-then-act —
    // two concurrent first runs could both see empty and double-append
    // the centroids (duplicate cids, nondeterministic assignment ties).
    if (!ManifestTable.hasCommittedTxn(centDir, "ivfappend-cents"))
      ManifestTable.appendWithRetry(spark, centDir,
        Similarity.ivfCells(init)
          .select($"label".cast("long").as("cid"), $"centroid".as("c")),
        txn = Some("ivfappend-cents"))
    val cellsDf = ManifestTable.read(spark, centDir)._2
    val cents = Similarity.centroidsOf(cellsDf)
    // member v1: the initial corpus assigned against the frozen codebook
    // (map-only — assignWithVec keeps the vector in the projection)
    if (!ManifestTable.hasCommittedTxn(memDir, "ivfappend-init"))
      ManifestTable.appendWithRetry(spark, memDir,
        Similarity.assignWithVec(init, cents),
        txn = Some("ivfappend-init"))
    // THE APPEND under test: odd ids arrive through the maintenance
    // sink (map-only assignment, txn-marked — replays are no-ops)
    graft.streaming.IvfIndexStream.sink(memDir, centDir, "ivfappend")(
      incoming, 1L)
    // project to the index triple BEFORE the cid→label rename: the
    // source's class `label` rides along on sink-appended rows (the
    // IvfIndexStream keep-label seam, round 16), so an unprojected
    // rename creates TWO `label` columns and the serve join resolves
    // to the class label — NULL for init rows (dropped) and a wrong
    // key for appended ones. This was the r16 q267 serve-identity
    // "flake": deterministic schema skew, not nondeterminism.
    val members = ManifestTable.read(spark, memDir)._2
      .select($"vec_id", $"embedding", $"cid")
    // the REBUILD arm: whole corpus re-assigned against the SAME
    // codebook — one map-only projection, MATERIALIZED before use.
    // The pin is load-bearing, not hygiene: left lazy, the optimizer
    // inlines the argmin expression into the serve arm's cell-prune
    // join key and the assign-diff predicate, where codegen does NO
    // subexpression elimination — the float→double cast + 16 dot
    // products re-evaluate ~24× per row (measured 47 s vs 2 s on the
    // 2M-vector 100× slice; a Project evaluates the same expression
    // once with CSE in 1.7 s). A full rebuild materializes its
    // assignment table by definition, so the pin is also the honest
    // cost model.
    val rebuilt = Pin(Similarity.assignWithVec(emb, cents))
    def serve(idx: DataFrame) = Similarity.ivfTopKWith(
      cellsDf.select($"cid".as("label"), $"c".as("centroid")),
      idx.withColumnRenamed("cid", "label"), 0L, 10)
    // the ranking windows run over 10-row frames — single-partition safe
    def ranked(df: DataFrame, p: String) = df
      .select($"vec_id".as(s"${p}_id"), $"cos".as(s"${p}_cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col(s"${p}_cos").desc, col(s"${p}_id"))))
    val a = ranked(serve(members), "a")
    val b = ranked(serve(rebuilt), "b")
    val assignDiff = members.select($"vec_id", $"cid".as("ca"))
      .join(rebuilt.select($"vec_id", $"cid".as("cb")), Seq("vec_id"),
        "full_outer")
      .filter(!($"ca" <=> $"cb"))
      .agg(count(lit(1)).as("assign_diff"))
    a.join(b, "rank")
      .select($"rank".cast("long").as("rank"),
        ($"a_id" === $"b_id" && $"a_cos" === $"b_cos")
          .cast("int").as("same"))
      .crossJoin(broadcast(assignDiff))
      .orderBy($"rank")
  }

  /** X4 language-ID heuristic vs the labeled lang column. */
  def langId(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withLangId(Tables.documents(spark, d))
      .groupBy($"lang", $"predicted_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted_lang")
  }

  /** X4 per-doc quality metrics + composite score. */
  def qualityScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withQuality(Tables.documents(spark, d))
      .select($"doc_id", $"n_tokens", $"n_unique", $"uniq_ratio",
        $"mean_tok_len", $"stopword_ratio", $"quality_score")
      .orderBy($"doc_id")
  }

  /** X4 token counting: words / BPE-ish regex / chars-per-4 estimate. */
  def tokenCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withTokenCounts(Tables.documents(spark, d))
      .select($"doc_id", $"word_tokens", $"regex_tokens", $"est_bpe_tokens")
      .orderBy($"doc_id")
  }

  /** X4 rolling-hash fingerprint (custom expression), oracled via DuckDB
    * list_reduce over character codes. */
  def fingerprint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withFingerprint(Tables.documents(spark, d))
      .select($"doc_id", $"fingerprint")
      .orderBy($"doc_id")
  }

  /** X4 tf-idf: each document's single most characteristic token. */
  def tfidfTop(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // rank on the ROUNDED score: ln() can differ in the last ULP between
    // engines, and the token tiebreak then resolves rounded ties identically
    val w = Window.partitionBy($"doc_id")
      .orderBy(round($"tfidf", 4).desc, $"token")
    TextAnalysis.tfidf(Tables.documents(spark, d))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1 && $"doc_id" < 100)
      .select($"doc_id", $"token", $"tf", $"df", round($"tfidf", 4).as("tfidf"))
      .orderBy($"doc_id")
  }

  /** X4 BM25 retrieval scoring ([[graft.operators.TextAnalysis.bm25]]):
    * every document scored against a fixed 3-term query mixing one rare
    * term (dup, df≈5% of docs → high idf) with two common ones. Top-100
    * by rounded score, doc_id tiebreak. */
  def bm25Rank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bm25(Tables.documents(spark, d), Seq("dup", "vector", "stream"))
      .select($"doc_id", round($"bm25", 4).as("bm25"))
      .orderBy(round($"bm25", 4).desc, $"doc_id")
      .limit(100)
  }

  /** X4 in-engine trained quality classifier ([[graft.operators.Learn]]):
    * full-batch logistic regression over per-doc quality features
    * (capped length, uniqueness ratio, stopword ratio), label = document
    * mentions the planted "dup" marker. 3 GD steps at lr=0.5 — each one
    * corpus scan + a 4-long-value aggregate — then map-only scoring. */
  def qualityLr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val stop = Seq("the", "a", "of", "and", "is")
    val feats = Tables.documents(spark, d).select(
      $"doc_id",
      least(size(toks) / lit(100.0), lit(1.0)).as("x1"),
      round(size(array_distinct(toks)) / size(toks), 4).as("x2"),
      round(size(filter(toks, t => t.isin(stop.map(lit): _*))) / size(toks), 4)
        .as("x3"),
      when(array_contains(toks, "dup"), lit(1.0)).otherwise(lit(0.0)).as("y"))
    val xs = Seq("x1", "x2", "x3")
    val w = Learn.trainLogistic(feats, xs, "y", 0.5, 3)
    Learn.predictLogistic(feats, xs, w)
      .filter($"doc_id" < 100)
      .select($"doc_id", $"y", round($"p", 4).as("p"))
      .orderBy($"doc_id")
  }

  /** X3 product-quantization codes ([[graft.operators.Similarity
    * .pqCodes]]): 64-dim embeddings → 4 subspaces × 8-centroid codebooks
    * (1 Lloyd iteration each), every vector encoded to 4 codes + its
    * squared quantization error. */
  def pqCodes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.pqCodes(Tables.embeddings(spark, d), 4, 8, 1)
      .orderBy($"vec_id")
  }

  /** X4 BPE tokenizer training ([[graft.operators.TextAnalysis
    * .bpeMerges]]): 6 merge rounds over the corpus word-frequency table;
    * output = the learned merge rules with their pair frequencies. */
  def bpeMerges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bpeMerges(Tables.documents(spark, d), 6)
      .orderBy($"round")
  }

  /** X4 BPE tokenizer application ([[graft.operators.TextAnalysis
    * .bpeEncode]]): the q147-trained merge rules applied to the whole
    * vocabulary — every word's final symbol sequence. Train and encode
    * share one implementation, so the pair cannot drift. */
  def bpeEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bpeEncode(Tables.documents(spark, d), 6)
      .orderBy($"word")
  }

  /** X4+ temperature-based mixture sampling ([[graft.operators.Curation
    * .temperatureSample]]): α=0.5 over source strata, half the corpus
    * token budget — the tail-upweighting multilingual-sampling move;
    * one rounded micro-weight per stratum, then all-integer thresholds. */
  def temperatureSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.temperatureSample(Tables.documents(spark, d), 0.5, 1L, 2L)
      .orderBy($"stratum")
  }

  /** X3 IVF-PQ serving ([[graft.operators.Similarity.ivfPqTopKWith]]):
    * coarse cell probe + compressed-domain ADC scoring over PERSISTED
    * artifacts — the PQ codebooks, per-vector codes, and IVF cells are
    * trained once per corpus snapshot and stored via
    * [[graft.sources.IndexStore]] (the q138 pattern), so the SERVING
    * plan contains no training job (VERDICT r6 #1). Reduced to the
    * [[annSummary]] exactness bound against the exact L2 top-10.
    * NOTE the DuckDB oracle pins only the summary invariants
    * (n_results / got_k / recall_ok as constants) — the hand-traced ADC
    * scores in NorthStarSpec carry the real computation verification. */
  def ivfPqTopK(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    // m=8,k=16,nProbe=5: measured overlap 4/10 at sf0.01, 3/10 at
    // sf0.1, 1/10 at sf0.001 (random unclustered embeddings bound ADC
    // recall, same regime as q43/q53; more k-means iters measured
    // WORSE — luck on uniform data). SF-DEPENDENT floor (ADVICE r13):
    // a single >= 1 bound is nearly vacuous at the larger SFs — a
    // regression to 1/10 there would pass silently — so only the tiny
    // sf0.001 fixture keeps the measured floor of 1; every larger
    // corpus asserts the measured >= 2.
    val floor = if (new java.io.File(d).getName == "sf0.001") 1 else 2
    val fp = graft.sources.IndexStore.sourceFingerprint(
      s"$d/embeddings.parquet", "ivfpq=m8,k16,iters1")
    val books = graft.sources.IndexStore.ensure(spark,
      ivfPqIndexDir(d, "books"), fp) { Similarity.pqBooks(emb, 8, 16, 1) }
    val codes = graft.sources.IndexStore.ensure(spark,
      ivfPqIndexDir(d, "codes"), fp) { Similarity.pqEncodeWith(emb, books) }
    val cells = graft.sources.IndexStore.ensure(spark, ivfIndexDir(d),
      graft.sources.IndexStore.sourceFingerprint(s"$d/embeddings.parquet",
        "ivf-cells=per-label-mean")) { Similarity.ivfCells(emb) }
    annSummary(Similarity.ivfPqTopKWith(codes, books, cells, emb, 0L, 10, 5),
      Similarity.l2TopK(emb, 0L, 10), 10, floor)
  }

  /** Per-SF location of a persisted IVF-PQ artifact (`books`/`codes`). */
  def ivfPqIndexDir(d: String, part: String): String =
    s"spark-warehouse/graft_index/ivfpq_${part}_${new java.io.File(d).getName}"

  /** Warehouse-surface column profiling ([[graft.operators.Profiling
    * .columnProfile]]): exact per-column stats over lineitem in one
    * aggregate pass — count/nulls/distinct/min/max only (no float sums,
    * so the profile is engine-exact). */
  def columnProfile(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.columnProfile(Tables.lineitem(spark, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
          "l_linestatus"))
      .orderBy($"col_name")
  }

  /** X13 integer-exact PageRank ([[graft.operators.Graph
    * .pageRankMicro]]) over the customer→supplier order graph (supplier
    * node ids offset by 10⁹ out of the customer key space), 3
    * supersteps; top-50 nodes by final micro-rank. All-integer updates,
    * so the oracle replays the exact ranks CTE-by-CTE. */
  def pageRank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.orders(spark, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + 1000000000L).as("dst"))
    Graph.pageRankMicro(e, 3)
      .orderBy($"r".desc, $"node").limit(50)
  }

  /** The composed training-data cleaning funnel — the end-to-end use case
    * the X-operators exist for: quality gate → exact dedup → near-dup
    * removal, reported as per-stage survivor counts. One lazy plan of four
    * unioned aggregates. */
  def corpusFunnel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // quality is PINNED (round 17): unpinned, the per-doc text
    // analytics re-derived once per funnel consumer — the stage-1
    // count, BOTH sides of the exact-dedup semi-join, and the near-dup
    // stage's shingling each re-ran withQuality's split/distinct pass
    // (4 corpus-sized text passes for one). exact gets the same pin
    // (stage-2 count + the near-dup stage's shingle build + its
    // anti-join = 3 consumers). A funnel materializes its stage
    // outputs in any real pipeline — the pin is the honest cost model,
    // not local tuning.
    val quality = Pin(TextAnalysis.withQuality(docs)
      .filter($"n_tokens" >= 20 && $"uniq_ratio" >= 0.3)
      .select(docs.columns.map(col): _*))
    val exact = Pin(quality.join(
      quality.groupBy($"text").agg(min($"doc_id").as("doc_id")),
      Seq("doc_id"), "left_semi"))
    val nearDeduped = Dedup.dropNearDuplicates(exact, 0.8)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), $"n_docs")
    stage("0_raw", docs)
      .unionByName(stage("1_quality", quality))
      .unionByName(stage("2_exact_dedup", exact))
      .unionByName(stage("3_near_dedup", nearDeduped))
      .orderBy($"stage")
  }

  /** X4 sliding-window chunking: docs → overlapping 20-token windows every
    * 10 tokens (the LLM context-window prep; see
    * [[graft.operators.TextAnalysis.chunkTokens]]). Restricted to
    * doc_id < 50 so the oracle output stays compact. */
  def docChunks(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.chunkTokens(
      Tables.documents(spark, d).filter($"doc_id" < 50), 20, 10)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** X3 int8 embedding quantization ([[graft.operators.Similarity
    * .quantizeInt8]]): per-vector symmetric scale + rounded int codes,
    * emitted as a csv string (the gate's pandas row-sort rejects array
    * cells). */
  def quantizeEmbeddings(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.quantizeInt8(Tables.embeddings(spark, d))
      .select($"vec_id",
        (round($"q_scale", 4) + lit(0.0)).as("q_scale"),
        array_join(transform($"q_vec", x => x.cast("string")), ",").as("q_csv"))
      .orderBy($"vec_id")
  }

  /** X4 deterministic content-hash train/val/test assignment
    * ([[graft.operators.TextAnalysis.withSplitAssign]]): per-doc bucket +
    * split label, plus the oracle checks the split SIZES via the same
    * rolling-hash formula DuckDB computes with list_reduce. */
  def splitAssign(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withSplitAssign(Tables.documents(spark, d))
      .select($"doc_id", $"bucket", $"split")
      .orderBy($"doc_id")
  }

  /** X5 multimodal binary column: payload size + head bytes as hex (the
    * SQL-expressible slice; the typed decode path is OperatorSpec-tested). */
  def multimodalBytes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Multimodal.withBinaryPayload(Tables.documents(spark, d))
      .select($"doc_id",
        $"media_meta.n_bytes".as("n_bytes"),
        substring(hex($"media"), 1, 16).as("head_hex"),
        $"media_meta.mime".as("mime"))
      .orderBy($"doc_id")
  }

  /** X4 intra-document repetition score (the Gopher-style quality
    * signal): unique-token ratio and duplicate-bigram fraction per doc.
    * Entirely row-local array ops (split / array_distinct / transform),
    * so it streams shuffle-free at corpus scale; ratios are single
    * int→double divisions, bit-identical across engines. Spark arrays
    * index from 0 where DuckDB lists index from 1 — both sides
    * enumerate the same n-1 bigrams. */
  def repetitionScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    graft.operators.Par.fanOut(Tables.documents(spark, d))
      .select($"doc_id", toks.as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", size($"toks").as("n_tokens"),
        size(array_distinct($"toks")).as("n_distinct"),
        expr("transform(sequence(0, size(toks) - 2)," +
          " i -> concat(toks[i], ' ', toks[i + 1]))").as("bigrams"))
      .select($"doc_id", $"n_tokens",
        ($"n_distinct".cast("double") / $"n_tokens").as("uniq_token_ratio"),
        (($"n_tokens" - 1 - size(array_distinct($"bigrams"))).cast("double") /
          ($"n_tokens" - 1)).as("dup_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** X4 train/eval contamination check: for every doc the deterministic
    * content-hash split (see [[splitAssign]]) sends to 'val', the count
    * and fraction of its distinct trigram shingles that also appear
    * anywhere in the 'train' split — the decontamination report every
    * eval pipeline needs. Scale path: the train shingle set is
    * pre-deduplicated before the join, and the join is a key-equi
    * shuffle; a 100 TB corpus would hash the shingles (ShingleHashes)
    * instead of carrying strings. */
  def contamination(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = TextAnalysis.withSplitAssign(
      graft.operators.Par.fanOut(Tables.documents(spark, d)))
      .select($"doc_id", $"split", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", $"split",
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3)," +
            " i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))")))
          .as("shingle"))
    val train = docs.filter($"split" === "train")
      .select($"shingle").distinct().withColumn("hit", lit(1L))
    val valDocs = docs.filter($"split" === "val")
    // ONE pass over the val shingles: a LEFT join against the (distinct —
    // so no row multiplication) train set with a hit flag, then a single
    // conditional aggregation, instead of semi-join + two groupBys that
    // would re-run the tokenize/trigram/explode subtree three times.
    // SHUFFLE_HASH: the build side is the distinct shingle set of 80% of
    // the corpus — local stats would broadcast it, but at corpus scale it
    // can never fit an executor; the hint makes the local plan the scale
    // plan (same reasoning as the Dedup candidate self-joins).
    valDocs.join(train.hint("SHUFFLE_HASH"), Seq("shingle"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum($"hit"), lit(0L)).as("n_contaminated"))
      .select($"doc_id", $"n_shingles", $"n_contaminated",
        ($"n_contaminated".cast("double") / $"n_shingles")
          .as("contamination_frac"))
      .orderBy($"doc_id")
  }

  /** X2 incremental dedup
    * ([[graft.operators.Dedup.dropIncomingDuplicatesIndexed]]): an
    * incoming batch (every 5th doc) deduplicated against the existing
    * corpus (the rest) — exact text anti-join, then cross-set
    * prefix-filtered Jaccard probing a PERSISTED shingle index
    * ([[graft.sources.IndexStore]], built once per source snapshot and
    * reused across invocations). The continuous-ingestion counterpart of
    * the batch-global q37/q38: the batch is shingled and broadcast, and
    * the index is read once in a map-only stage that verifies each
    * candidate pair in place, so no corpus row is shuffled, broadcast or
    * re-shingled. */
  def incrementalDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = graft.operators.Par.fanOut(Tables.documents(spark, d))
    val existing = docs.filter($"doc_id" % 5 =!= 0)
    val incoming = docs.filter($"doc_id" % 5 === 0)
    val idx = graft.sources.IndexStore.ensure(spark,
      shingleIndexDir(d),
      graft.sources.IndexStore.sourceFingerprint(s"$d/documents.parquet",
        "existing=doc_id%5!=0", "shingle=word-trigram-xxhash64")) {
      Dedup.shingleArrays(existing)
    }
    Dedup.dropIncomingDuplicatesIndexed(idx, existing, incoming, 0.8)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Per-SF location of q110's persisted shingle index (under the
    * git-ignored local warehouse; on a cluster this is a table path). */
  def shingleIndexDir(d: String): String =
    s"spark-warehouse/graft_index/shingles_${new java.io.File(d).getName}"

  /** X4 bigram language-model statistics: the corpus's top bigrams with
    * their conditional probability P(w2 | w1) = c(w1,w2) / c(w1,·) — the
    * n-gram LM table that perplexity-style quality filters and
    * contamination heuristics build on. Bigram enumeration is row-local
    * (transform over the token array, like q107); both groupBys shuffle
    * on keys whose cardinality grows with the VOCABULARY, not the corpus.
    * The unigram side is a plain equi-join — Catalyst broadcasts it at
    * this SF; at web scale a vocabulary table still fits the broadcast
    * budget after a min-count cut. Counts are exact ints; p is a single
    * int/int division — bit-identical across engines. */
  def bigramLm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pairs = graft.operators.Par.fanOut(Tables.documents(spark, d))
      .select(split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
    val cnt2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt"))
    val cnt1 = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
    cnt2.join(cnt1, "w1")
      .select($"w1", $"w2", $"cnt", round($"cnt" / $"c1", 4).as("p"))
      .orderBy($"cnt".desc, $"w1", $"w2")
      .limit(50)
  }

  /** X4 per-document bigram-LM perplexity — the CCNet/Gopher-style
    * fluency filter: train the [[bigramLm]] model on the corpus, score
    * each document by exp of its per-bigram cross-entropy under that
    * model (word-soup spam scores high, natural text low). Self-scoring
    * means every observed bigram has p > 0, so no smoothing term is
    * needed and the result is oracle-exact.
    *
    * One corpus pass: the per-(doc, bigram) counts are persisted and
    * reused by BOTH the model aggregation and the scoring join (Spark
    * has no DataFrame-level CSE — without the pin the corpus would be
    * scanned + tokenized twice, the q116 lesson). The unigram table
    * derives from the bigram MODEL, not the corpus, so it costs a
    * model-sized aggregate, and the model-side join key (w1, w2) has
    * vocabulary² cardinality — corpus growth fattens counts, not keys.
    * The 1-row-per-doc result is checkpointed and the pin released
    * before returning (vocabCoverage's shape). ln drift is ~1e-15 per
    * term and exp amplifies it by ppl (≤ vocab size), still 6+ orders
    * below the round(4) boundary. */
  def docPerplexity(spark: SparkSession, d: String): DataFrame =
    docPerplexityOf(Tables.documents(spark, d))

  /** Per-(doc, bigram) occurrence counts — the shared first stage of the
    * bigram-LM family ([[docPerplexityOf]], [[novelBigramsOf]]). Bigram
    * enumeration is row-local; the groupBy shuffles on (doc_id, w1, w2),
    * whose per-doc fan-out is bounded by document length. Callers persist
    * the result: each consumes it through ≥2 aggregations and Spark has
    * no DataFrame-level CSE (the q116 lesson). */
  private def docBigramCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Par.fanOut(docs)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .groupBy($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
      .agg(count(lit(1)).as("c"))
  }

  /** Core of [[docPerplexity]] on an explicit (doc_id, text) frame. */
  def docPerplexityOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dbc = docBigramCounts(docs).persist()
    val model = dbc.groupBy($"w1", $"w2").agg(sum($"c").as("cnt2"))
    val uni = model.groupBy($"w1").agg(sum($"cnt2").as("c1"))
    // H = -(1/N) Σ c·ln(cnt2/c1) ≥ 0 since cnt2 ≤ c1; ppl = exp(H) ≥ 1
    val out = Pin(dbc
      .join(model.join(uni, "w1"), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"),
        sum($"c" * (log($"c1") - log($"cnt2"))).as("s"))
      .select($"doc_id",
        (round(exp($"s" / $"n"), 4) + lit(0.0)).as("ppl"),
        $"n".as("n_bigrams"))
      .orderBy($"doc_id"))
    dbc.unpersist(false)
    out
  }

  /** X4 per-document n-gram novelty — the deduplicated-token-count
    * signal of data curation (Lee et al.'s "Deduplicating Training Data"
    * family): the fraction of a doc's bigram occurrences whose FIRST
    * corpus appearance (min doc_id) is this document. Boilerplate and
    * near-dup tails score ~0, fresh content ~1 — a rank-free complement
    * to pairwise dedup that needs no threshold.
    *
    * Shapes: one corpus pass into the persisted [[docBigramCounts]];
    * first-appearance is a min aggregate on the (w1, w2) model key
    * (vocabulary², not corpus, cardinality); the verdict join is
    * model-keyed; the final rollup shuffles on doc_id. All exact
    * integers until the one terminal division. */
  def novelBigrams(spark: SparkSession, d: String): DataFrame =
    novelBigramsOf(Tables.documents(spark, d))

  /** Core of [[novelBigrams]] on an explicit (doc_id, text) frame. */
  def novelBigramsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dbc = docBigramCounts(docs).persist()
    val fd = dbc.groupBy($"w1", $"w2").agg(min($"doc_id").as("first_doc"))
    val out = Pin(dbc.join(fd, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"),
        sum(when($"doc_id" === $"first_doc", $"c")
          .otherwise(lit(0L))).as("nov"))
      .select($"doc_id",
        (round($"nov" / $"n", 4) + lit(0.0)).as("novelty"),
        $"n".as("n_bigrams"))
      .orderBy($"doc_id"))
    dbc.unpersist(false)
    out
  }

  /** X4 per-source distribution shift — KL(source ‖ corpus) over unigram
    * distributions, the domain-shift score a mixing pipeline uses to spot
    * sources whose token statistics diverge from the pool (machine
    * boilerplate, wrong-language crawls) before they skew a training mix.
    * Every source token is in the corpus by construction, so the KL is
    * finite and needs no smoothing.
    *
    * Shapes: per-(source, token) counts persisted once (two consumers);
    * the corpus marginal derives from THOSE counts (vocabulary-keyed
    * aggregate — never a second corpus scan); the source-totals and the
    * grand total are broadcast (≤ #sources rows and 1 row). The only
    * corpus-independent shuffle key is the vocabulary; the final rollup
    * has #sources groups with map-side partial aggregation. */
  def sourceKl(spark: SparkSession, d: String): DataFrame =
    sourceKlOf(Tables.documents(spark, d))

  /** Core of [[sourceKl]] on an explicit (source, text) frame. */
  def sourceKlOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = Par.fanOut(docs)
      .select($"source", explode(split($"text", " ")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .persist()
    val corpus = tok.groupBy($"w").agg(sum($"c").as("cw"))
    val ns = tok.groupBy($"source").agg(sum($"c").as("ns"))
    val n = corpus.agg(sum($"cw").as("n_total"))
    // KL = (1/ns)·Σ c·(ln c − ln ns − ln cw + ln N), exact ints inside ln
    val out = Pin(tok.join(corpus, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .groupBy($"source")
      .agg(sum($"c" * (log($"c") - log($"ns") - log($"cw")
        + log($"n_total"))).as("s"),
        max($"ns").as("nt"))
      .select($"source",
        (round($"s" / $"nt", 4) + lit(0.0)).as("kl"),
        $"nt".as("n_tokens"))
      .orderBy($"source"))
    tok.unpersist(false)
    out
  }

  /** X4 per-doc token entropy (nats): -Σ p·ln(p) over the doc's token
    * distribution — the information-density quality signal (word-soup
    * spam scores low, natural text mid-range). Two key-bounded shuffles:
    * (doc_id, token) then doc_id; ln drift between engines is ~1e-15 per
    * term, 11 orders below the round(4) boundary (same argument as q52's
    * tf-idf). */
  def tokenEntropy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // one-pass identity: H = -Σ (c/n)·ln(c/n) = ln(n) - (Σ c·ln(c)) / n.
    // The naive two-level form needs the per-doc total joined back onto
    // the frequencies — Spark has no DataFrame-level CSE, so that plan
    // scans + tokenizes + counts the corpus TWICE; this form folds the
    // normalization into the same aggregation pass (verified: 2 scans +
    // 5 aggregates → 1 scan + 2 aggregates in EXPLAIN.md).
    graft.operators.Par.fanOut(Tables.documents(spark, d))
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), sum($"c" * log($"c")).as("s"))
      // + 0.0: a single-distinct-token doc gives ln(n) - (n·ln n)/n =
      // ±1e-17, which rounds to IEEE -0.0 when the drift lands negative
      .select($"doc_id",
        (round(log($"n") - $"s" / $"n", 4) + lit(0.0)).as("entropy"),
        $"n".as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** X4 domain-mixing sampler: per-source keep rates applied by
    * deterministic content hash (rolling_hash mod 100 < rate), the
    * shuffle-free way to hit target domain weights that stays stable
    * across runs and re-sharding (a random sample re-deals every run).
    * Rates here derive from the source id (10%..50%) to stand in for a
    * mixing config table. */
  def domainMixing(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // nullif/coalesce guard: a source with no trailing digits yields ''
    // from regexp_extract — Spark would cast it to NULL (row silently
    // unsampled) while DuckDB's CAST would ABORT the whole oracle; '0'
    // gives such sources the base 10% rate identically in both engines.
    graft.operators.Par.fanOut(Tables.documents(spark, d))
      .withColumn("rate_pct",
        (coalesce(nullif(regexp_extract($"source", "([0-9]+)$", 1), lit("")),
          lit("0")).cast("int") % 5) * 10 + 10)
      .withColumn("bucket",
        pmod(TextExpressions.rolling_hash($"text"), lit(100)).cast("int"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"bucket" < $"rate_pct", 1L).otherwise(0L)).as("n_sampled"),
        coalesce(sum(when($"bucket" < $"rate_pct", $"n_chars")), lit(0L))
          .as("chars_sampled"),
        max($"rate_pct").as("rate_pct"))
      .orderBy($"source")
  }

  /** X2 Bloom-filter shingle prescreen ([[graft.operators.Sketches]]):
    * a 65536-bit / k=2 Bloom filter over the EXISTING split's distinct
    * trigram shingles, probed by each incoming doc's shingles — the cheap
    * membership gate a dedup pipeline runs before any expensive verify
    * join. Per incoming doc: shingle count, Bloom-positive count, and
    * TRUE-member count, so the report shows both the real overlap and the
    * filter's (deterministic — rolling-hash positions) false positives.
    * Filter sizing is honest for the fixture: ~0.4 bits load at sf0.01. */
  def bloomShingles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (m, k) = (65536, 2)
    val sh = graft.operators.Par.fanOut(Tables.documents(spark, d))
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id",
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3)," +
            " i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))")))
          .as("shingle"))
    val existing = sh.filter($"doc_id" % 3 =!= 0).select($"shingle").distinct()
    val bloom = graft.operators.Sketches.bloomBuild(
      existing, TextExpressions.rolling_hash($"shingle"), m, k)
    val probed = graft.operators.Sketches.bloomProbe(
      bloom, sh.filter($"doc_id" % 3 === 0),
      TextExpressions.rolling_hash($"shingle"), m, k)
    // SHUFFLE_HASH for the true-membership join: same scale reasoning as
    // q108 — a corpus-wide distinct shingle set never broadcasts at 100 TB
    probed
      .join(existing.withColumn("true_hit", lit(1L)).hint("SHUFFLE_HASH"),
        Seq("shingle"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"bloom_hit", 1L).otherwise(0L)).as("n_bloom"),
        coalesce(sum($"true_hit"), lit(0L)).as("n_true"))
      .orderBy($"doc_id")
  }

  /** X4 Count-Min-sketch token frequencies ([[graft.operators.Sketches]]):
    * a deliberately tight 3×16 sketch over every token occurrence in the
    * corpus (31-word fixture vocabulary → guaranteed cell collisions), the
    * exact count joined beside the estimate. Demonstrates the CMS
    * overcount-only contract (est ≥ exact always; SketchesSpec proves it
    * as a property) at a sketch size where the error is visible. */
  def cmsTokenCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (depth, width) = (3, 16)
    val counts = graft.operators.Par.fanOut(Tables.documents(spark, d))
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("exact_cnt"))
    val cms = graft.operators.Sketches.cmsBuild(
      counts, $"token", $"exact_cnt", depth, width)
    counts
      .join(graft.operators.Sketches.cmsEstimate(cms, counts, $"token",
        depth, width), Seq("token"))
      .select($"token", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"))
      .orderBy($"exact_cnt".desc, $"token")
      .limit(20)
  }

  /** X2 containment pairs ([[graft.operators.Dedup.containmentPairs]]):
    * sub-document detection at C ≥ 0.9 — catches excerpt/quotation
    * overlap that symmetric Jaccard misses. */
  def containmentPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.containmentPairs(Tables.documents(spark, d), 0.9)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X4 vocabulary coverage curve: the number of most-frequent tokens
    * needed to cover 50% / 90% / 99% of all corpus token OCCURRENCES —
    * the tokenizer-vocab sizing question every LLM data pipeline asks.
    *
    * Scale design: the corpus-sized work is one map-side-combined groupBy;
    * everything after runs over the AGGREGATED vocabulary (one row per
    * distinct token). The global rank/cumsum over that vocabulary is a
    * TWO-LEVEL cumulative sum — range-partition by the (cnt desc, token)
    * sort order, rank + prefix-sum WITHIN each bucket (a partitioned
    * window), then fold the per-bucket totals (≤ shuffle-partitions rows)
    * into bucket offsets with an array aggregate — so no single-partition
    * `Window.orderBy` appears anywhere in the plan: at a web-scale
    * token-id vocabulary (10⁹ rows) every stage stays parallel, where the
    * naive global window serializes the whole vocabulary through one task.
    *
    * The bucketed table is persisted for the duration of the query:
    * `spark_partition_id` after a range exchange is only consistent
    * across the two consumers (local windows, bucket totals) when both
    * read the SAME materialization — range boundaries are re-sampled per
    * execution. The final 3-row result is checkpointed and the pin
    * released before returning ([[Dedup]]'s releaseAfter shape).
    *
    * The "first row to cross the target" predicate needs no lag():
    * previous cumulative = cum - cnt, so one window pass suffices. All
    * comparisons are integer-exact (cum·100 ≥ pct·tot), no double
    * thresholding. */
  def vocabCoverage(spark: SparkSession, d: String): DataFrame = {
    val local = vocabRanked(spark, d).persist()
    val out = Pin(vocabCoveragePlan(spark, local))
    local.unpersist(false)
    out
  }

  /** (bucket, cnt, lrn, lcum): per-token local rank and local cumulative
    * count within range-partitioned buckets of the global
    * (cnt desc, token asc) order — level one of the two-level cumsum. */
  private def vocabRanked(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Par.fanOut(Tables.documents(spark, d))
      .select(explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val nBuckets = spark.sessionState.conf.numShufflePartitions
    val bucketed = tf
      .repartitionByRange(nBuckets, $"cnt".desc, $"token".asc)
      .withColumn("bucket", spark_partition_id())
    val wLoc = Window.partitionBy($"bucket").orderBy($"cnt".desc, $"token".asc)
    bucketed.select($"bucket", $"cnt",
      row_number().over(wLoc).as("lrn"),
      sum($"cnt").over(wLoc.rowsBetween(Window.unboundedPreceding, 0)).as("lcum"))
  }

  /** Level two: bucket offsets. Per-bucket totals fall out of the level-
    * one columns (brows = max local rank, bsum = max local cumsum), get
    * collected into ONE array row (≤ shuffle-partitions elements — bounded
    * by config, not data), and prefix-summed with array aggregates (O(B²)
    * on B ≤ a few thousand buckets — driver-free and trivially cheap).
    * Broadcast back onto the level-one rows for the global rank/cumsum. */
  private def vocabCoveragePlan(spark: SparkSession, local: DataFrame): DataFrame = {
    import spark.implicits._
    val btot = local.groupBy($"bucket")
      .agg(max($"lrn").as("brows"), max($"lcum").as("bsum"))
    val offs = btot
      .agg(array_sort(collect_list(struct($"bucket", $"brows", $"bsum"))).as("bs"))
      .select(explode(expr(
        "transform(bs, (x, i) -> struct(x.bucket AS bucket, " +
          "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.brows) AS row_off, " +
          "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.bsum) AS cum_off, " +
          "aggregate(bs, 0L, (a, y) -> a + y.bsum) AS tot))")).as("o"))
      .select($"o.bucket".as("bucket"), $"o.row_off".as("row_off"),
        $"o.cum_off".as("cum_off"), $"o.tot".as("tot"))
    local.join(broadcast(offs), "bucket")
      .select($"cnt", ($"lrn" + $"row_off").cast("int").as("n_tokens"),
        ($"lcum" + $"cum_off").as("cum"), $"tot")
      .select($"n_tokens", $"cum", $"tot", $"cnt",
        explode(filter(array(lit(50), lit(90), lit(99)),
          p => $"cum" * 100 >= p.cast("bigint") * $"tot" &&
            ($"cum" - $"cnt") * 100 < p.cast("bigint") * $"tot")).as("pct"))
      .select($"pct", $"n_tokens", round($"cum" / $"tot", 4).as("coverage"))
      .orderBy($"pct")
  }

  /** X4 per-language vocabulary-90 size: [[vocabCoverage]] partitioned by
    * `lang` — how concentrated each language's token distribution is.
    * Both window frames (running + whole-partition) share the `lang`
    * partitioning, so Catalyst plans ONE shuffle and one sort for the
    * pair; parallelism is per-language where the global curve (q118) is
    * single-partition at the final (vocab-sized) step. */
  def langVocab90(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Par.fanOut(Tables.documents(spark, d))
      .select($"lang", explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"token".asc)
    tf.select($"lang", $"cnt", row_number().over(w).as("n_tokens"),
        sum($"cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
        sum($"cnt").over(Window.partitionBy($"lang")).as("tot"))
      .filter($"cum" * 10 >= $"tot" * 9 && ($"cum" - $"cnt") * 10 < $"tot" * 9)
      .select($"lang", $"n_tokens", round($"cum" / $"tot", 4).as("coverage"))
      .orderBy($"lang")
  }

  /** X4 per-domain document cap — the "no crawl domain dominates the
    * corpus" rule: keep at most K docs per `source`, chosen
    * DETERMINISTICALLY by content-hash order (re-runs and backfills pick
    * the same survivors; a random sample would not). Reports kept/total
    * per source. One window over the `source` partitioning — at corpus
    * scale this is the one shuffle a capping pass needs, and skewed
    * mega-domains are exactly the rows the cap discards. */
  def domainCap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 50
    val w = Window.partitionBy($"source")
      .orderBy(TextExpressions.rolling_hash($"text").asc, $"doc_id".asc)
    Tables.documents(spark, d)
      .select($"source", row_number().over(w).as("rk"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"rk" <= k, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  /** X2/X4 duplicated-chunk detection: 20-token / stride-10 sliding
    * windows ([[graft.operators.TextAnalysis.chunkTokens]]) hashed and
    * grouped corpus-wide — the chunk-granular complement to doc-level
    * dedup (boilerplate and quoted passages recur across otherwise
    * distinct docs). Hashing to md5 BEFORE the groupBy keeps the shuffle
    * key fixed-width regardless of chunk text size. */
  def dupChunks(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.chunkTokens(Tables.documents(spark, d), 20, 10)
      .select(md5($"chunk_text").as("chunk_md5"), $"doc_id")
      .groupBy($"chunk_md5")
      .agg(count(lit(1)).as("n_occ"), countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .filter($"n_occ" > 1)
      .orderBy($"chunk_md5")
  }

  /** X4+ GPT-style sequence packing ([[graft.operators.Curation.packBins]]):
    * documents laid end-to-end in doc_id order, the token stream cut every
    * 256 tokens; per-bin occupancy stats. Built on the two-level global
    * cumsum — no single-partition window anywhere in the plan. */
  def packSequences(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.packBins(Tables.documents(spark, d), 256L).orderBy($"bin")
  }

  /** X4+ quality-ordered token-budget cut
    * ([[graft.operators.Curation.budgetCut]]): rank docs by n_chars desc
    * (doc_id tiebreak — the order must be total) and keep the prefix whose
    * token total stays inside half the corpus. The boundary test is
    * all-integer, so the oracle agrees exactly at any scale. */
  def tokenBudgetCut(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val t = Tables.documents(spark, d).select($"doc_id", $"n_chars",
      size(split($"text", " ")).cast("long").as("n_tok"))
    Curation.budgetCut(t, Seq($"n_chars".desc, $"doc_id".asc), "n_tok", 1L, 2L)
      .select($"doc_id", $"n_tok", $"rn", $"cum", $"tot",
        $"kept".cast("int").as("kept"))
      .orderBy($"doc_id")
  }

  /** X4+ deterministic hash-stratified mixture sampling
    * ([[graft.operators.Curation.mixtureSample]]): each source stratum gets
    * an equal share of half the corpus-wide token budget, realized by an
    * md5-hash threshold per stratum — integer thresholds, so any engine
    * picks the exact same docs. */
  def mixtureSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.mixtureSample(Tables.documents(spark, d), 1L, 2L)
      .orderBy($"stratum")
  }

  /** X2/X4 duplicated-chunk REMOVAL ([[graft.operators.Dedup
    * .chunkDedupRewrite]]) — the rewrite completing q119's detection:
    * non-overlapping 20-token chunks, first occurrence (min doc_id,
    * chunk_idx) wins, every doc re-sliced row-locally to its kept chunks.
    * clean_md5 commits to the exact reconstructed text. */
  def chunkRewrite(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.chunkDedupRewrite(Tables.documents(spark, d), 20).orderBy($"doc_id")
  }

  /** X2 SemDeDup-style semantic dedup decision
    * ([[graft.operators.Similarity.semDedup]]): within each `label` cell,
    * drop every vector with a smaller-id cell-mate at cosine ≥ 0.35
    * (threshold picked so the fixture yields drops at both gate SFs:
    * 26/500 at sf0.01, 351/2000 at sf0.1). One keep/drop row per vector. */
  def semDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.semDedup(Tables.embeddings(spark, d), "label", 0.35)
      .select($"vec_id", $"cell".cast("int").as("cell"), $"kept")
      .orderBy($"vec_id")
  }

  /** X3 trained coarse quantizer: deterministic Lloyd's k-means
    * ([[graft.operators.Similarity.kmeansAssign]]) — k=8, 2 update
    * steps, final per-vector cluster assignment. */
  def kmeans(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.kmeansAssign(Tables.embeddings(spark, d), 8, 2)
      .orderBy($"vec_id")
  }

  /** X2 semantic dedup over TRAINED clusters: [[kmeans]] cells feed
    * [[graft.operators.Similarity.semDedup]] — the full SemDeDup recipe
    * (cluster, then dedup within cells) instead of the given-label
    * stand-in of q131. */
  def semDedupTrained(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val cells = Similarity.kmeansAssign(emb, 8, 2)
    Similarity.semDedup(emb.join(cells, "vec_id"), "cid", 0.35)
      .select($"vec_id", $"cell".as("cid"), $"kept")
      .orderBy($"vec_id")
  }

  /** X3 IVF serving over the TRAINED quantizer: the [[kmeans]] assignment
    * is built once per corpus snapshot and persisted
    * ([[graft.sources.IndexStore]]); each call derives the tiny (cid,
    * centroid) codebook from it (one agg — at 100 TB the codebook would
    * be stored alongside), probes the 3 nearest cells, rescores exactly,
    * and reduces to the [[annSummary]] exactness bound (measured overlap
    * vs exact top-10: deterministic on the fixture; bound ≥ 2). */
  def ivfKmeans(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val assign = graft.sources.IndexStore.ensure(spark, kmeansIndexDir(d),
      graft.sources.IndexStore.sourceFingerprint(s"$d/embeddings.parquet",
        "kmeans=k8-iters2-round6")) {
      Similarity.kmeansAssign(emb, 8, 2)
    }
    // drop the fixture's own label column first — the trained cid takes
    // over as the cell id under the name ivfTopKWith expects
    val corpus = emb.drop("label").join(assign, "vec_id")
      .withColumnRenamed("cid", "label")
    val cells = corpus
      .select($"label", posexplode($"embedding".cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(round(avg($"x"), 6).as("m"))
      .groupBy("label").agg(array_sort(collect_list(struct($"pos", $"m")))
        .getField("m").as("centroid"))
    annSummary(Similarity.ivfTopKWith(cells, corpus, 0L, 10),
      Similarity.cosineTopK(emb, 0L, 10), 10, 2)
  }

  /** X3 farthest-first-seeded k-means ([[graft.operators.Similarity
    * .kmeansAssignFarthest]]): k=4 seeds spread by the k-center greedy
    * rule, one Lloyd update, final assignment. */
  def kmeansFarthest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.kmeansAssignFarthest(Tables.embeddings(spark, d), 4, 1)
      .orderBy($"vec_id")
  }

  /** X3 k-means++-seeded k-means ([[graft.operators.Similarity
    * .kmeansAssignPlusPlus]]): k=4 seeds drawn by hash-deterministic
    * D²-sampling, one Lloyd update, final assignment. */
  def kmeansPlusPlus(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.kmeansAssignPlusPlus(Tables.embeddings(spark, d), 4, 1)
      .orderBy($"vec_id")
  }

  /** X3 sample-trained k-means ([[graft.operators.Similarity
    * .kmeansAssignSampled]]): updates train on the vec_id % 4 == 0
    * sample, the final assignment covers the full corpus. */
  def kmeansMiniBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.kmeansAssignSampled(Tables.embeddings(spark, d), 8, 2, 4)
      .orderBy($"vec_id")
  }

  /** Per-SF location of the persisted k-means assignment. */
  def kmeansIndexDir(d: String): String =
    s"spark-warehouse/graft_index/kmeans_${new java.io.File(d).getName}"

  /** X4 Gopher-rule quality battery
    * ([[graft.operators.TextAnalysis.withGopherRules]]): per-doc rule
    * booleans + conjunction, with minWords 20 so the fixture's short docs
    * split both ways on the word-count rule. */
  def gopherRules(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.withGopherRules(Tables.documents(spark, d), minWords = 20)
      .select($"doc_id", $"n_words", $"mean_word_len", $"n_symbols",
        $"n_alpha_words", $"n_stop_distinct", $"r_word_count", $"r_word_len",
        $"r_symbol", $"r_alpha", $"r_stop", $"gopher_pass")
      .orderBy($"doc_id")
  }

  /** X5 multimodal frame sampling ([[graft.operators.Multimodal
    * .sampleFrames]]): every 2nd 64-byte "frame" of each payload, with
    * offset and rolling checksum — the 1-row→N-rows video-sampling shape,
    * oracle-checkable because the stub decode is deterministic byte
    * arithmetic and the fixture text is pure ASCII (byte == char code,
    * so DuckDB replays the checksum with ascii()/list_reduce). */
  def frameSample(spark: SparkSession, d: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    Multimodal.sampleFrames(
        Multimodal.withBinaryPayload(Tables.documents(spark, d)), 64, 2)
      .select($"doc_id", $"frame_no", $"offset".as("off"), $"n_bytes",
        $"checksum")
      .orderBy($"doc_id", $"frame_no")
  }

  /** X5 multimodal resize ([[graft.operators.Multimodal.resize]]): cap
    * payloads at 200 bytes by stride-sampling (deterministic stub for
    * decode→scale→re-encode); md5 commits to the exact output bytes.
    * Small payloads must pass through verbatim at scale 1. */
  def resizeStub(spark: SparkSession, d: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    Multimodal.resize(
        Multimodal.withBinaryPayload(Tables.documents(spark, d)), 200)
      .select($"doc_id", $"n_bytes", $"orig_bytes",
        round($"scale", 4).as("scale"), md5($"media").as("out_md5"))
      .orderBy($"doc_id")
  }

  /** X4 PII scrub ([[graft.operators.TextAnalysis.withPiiScrub]]). The
    * fixture corpus contains no natural PII, so the query deterministically
    * plants some first — appending a doc_id-derived email (every 3rd doc),
    * IP (every 5th), and phone (every 7th), a transform DuckDB mirrors
    * verbatim — then scrubs and commits to the redacted text via md5. */
  def piiScrub(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val planted = Tables.documents(spark, d).select($"doc_id",
      concat($"text",
        when(pmod($"doc_id", lit(3)) === 0,
          concat(lit(" contact u"), $"doc_id".cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(pmod($"doc_id", lit(5)) === 0,
          concat(lit(" host 10.2."),
            pmod($"doc_id", lit(250)).cast("string"), lit(".7")))
          .otherwise(lit("")),
        when(pmod($"doc_id", lit(7)) === 0,
          concat(lit(" call "),
            lpad(pmod($"doc_id", lit(1000)).cast("string"), 3, "0"),
            lit("-555-0199"))).otherwise(lit(""))).as("text"))
    TextAnalysis.withPiiScrub(planted)
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones",
        md5($"clean_text").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** X4 benchmark decontamination ([[graft.operators.TextAnalysis
    * .decontaminate]]): eval slice = doc_id % 3 == 0 (the modulus is
    * fixture-tuned — the planted near-dup families must straddle the
    * eval/train split so the check fires: 4 contaminated docs in the
    * window at sf0.01, 8 at sf0.1); every train doc's count of distinct
    * 8-grams shared with the eval set. Output window doc_id < 200 keeps
    * the report compact; the filter reaches the scan on the train side. */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.decontaminate(Tables.documents(spark, d), 8, 3)
      .filter($"doc_id" < 200)
      .orderBy($"doc_id")
  }

  /** X4+ weighted sampling without replacement ([[graft.operators
    * .Curation.weightedSample]]): 25 docs drawn ∝ n_chars via the
    * Efraimidis–Spirakis hash race — a top-k, never a sort. */
  def weightedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.weightedSample(Tables.documents(spark, d), 25, "n_chars")
  }

  /** X4+ per-source quota cap ([[graft.operators.Curation.sourceQuota]]):
    * at most 10 docs per source, picked by content-hash order — the
    * anti-domination guard of a crawl-mixture assembly. 20 sources × 10
    * at every SF. */
  def sourceQuota(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.sourceQuota(Tables.documents(spark, d), 10)
      .orderBy($"stratum", $"rk")
  }

  /** X4+ deterministic stratified subsampling ([[graft.operators
    * .Curation.stratifiedSample]]): short docs (n_chars < 214) kept at
    * 1/8, medium (< 375) at 1/4, long at 1/2 — integer hash thresholds,
    * kept-id sum pins the exact membership. */
  def stratifiedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.stratifiedSample(Tables.documents(spark, d),
        Seq(("1_short", 214L, 1L, 8L), ("2_medium", 375L, 1L, 4L)),
        "3_long", 1L, 2L)
      .orderBy($"stratum")
  }

  /** X4 corpus-scale BPE tokenizer pass ([[graft.operators.TextAnalysis
    * .bpeTokenizeDocs]]): the q147-trained merges applied to every
    * DOCUMENT's token stream via a vocab dictionary join — per-doc word
    * and BPE-symbol counts, the token-budget numbers curation consumes
    * (q152 encodes the vocabulary; this is the corpus application). */
  def bpeTokenize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bpeTokenizeDocs(Tables.documents(spark, d), 6)
      .orderBy($"doc_id")
  }

  /** X2 semantic dedup under a SKEWED clusterer ([[graft.operators
    * .Similarity.semDedupSalted]]): q131's exact keep/drop decision
    * (same label cells, same τ=0.35) computed by the replicated skew
    * join at salt 4 — the hot-cell answer when one cell would
    * serialize the pairwise scoring on a single reducer. The oracle is
    * the UNSALTED pairwise SQL: the salted plan must not change one
    * row. */
  def semDedupSalted(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.semDedupSalted(Tables.embeddings(spark, d), "label", 0.35, 4)
      .select($"vec_id", $"cell".cast("int").as("cell"), $"kept")
      .orderBy($"vec_id")
  }

  /** X2 any-alignment repeated spans ([[graft.operators.Dedup
    * .repeatedSpans]]): the top-100 width-8 token spans occurring in
    * ≥ 2 documents — the exact-substring-dedup signal (Lee et al. 2022)
    * that fixed chunking (q119) misses when a dup straddles a chunk
    * boundary. */
  def repeatedSpans(spark: SparkSession, d: String): DataFrame =
    Dedup.repeatedSpans(Tables.documents(spark, d), 8, 100)

  /** X8 KMV source-overlap matrix ([[graft.operators.Sketches
    * .kmvOverlap]]): pairwise resemblance estimate between crawl
    * sources from k=192 minimum content-hash signatures (union-closed,
    * so pairs combine without re-touching the corpus), with the exact
    * hash-set Jaccard alongside — both pure hash functions, so the
    * oracle replays the ESTIMATE itself, not just a bound. */
  def kmvOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // k=192 measured on the fixtures: sf0.1 has 7 pairs with real
    // cross-source dups (exact_j to 0.004) and the sketch reports 3 of
    // them (est to 0.0104 — sampling error visible, the honest sketch
    // regime); sf0.01 has ZERO cross-source dups and the sketch
    // correctly reports all-zero. Hash-match holds at both.
    graft.operators.Sketches.kmvOverlap(Tables.documents(spark, d),
        "source", conv(substring(md5($"text"), 1, 8), 16, 10), 192)
      .orderBy($"src_a", $"src_b")
  }

  /** X12 composite curation pipeline ([[graft.operators.Curation
    * .curationPipeline]]): Gopher quality at score >= 4 of 5 rules
    * (minWords=20, the q135 setting; the synthetic fixture has no
    * English stopwords, so r_stop fails corpus-wide — the >= 4
    * threshold is exactly the "one rule mismatched to the domain"
    * case score thresholding exists for) → exact-dedup winners →
    * half-token budget cut in doc_id order — the full admission chain
    * as one plan, one audit row per quality-passing winner. */
  def curationPipeline(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.curationPipeline(Tables.documents(spark, d), 20, 4, 1L, 2L)
      .orderBy($"doc_id")
  }

  /** X9/X3 int8-quantized cosine serving ([[graft.operators.Similarity
    * .int8TopK]]): top-10 for query vec 0 scored purely on int8 codes —
    * the per-vector scales cancel, so the DuckDB oracle replays the
    * FULL result (integer dots are engine-exact; the one division is
    * per-row and rounded), unlike the recall-bounded ANN family. */
  def int8TopK(spark: SparkSession, d: String): DataFrame =
    Similarity.int8TopK(Tables.embeddings(spark, d), 0L, 10)

  /** X4 chunk-level BPE tokenizer pass ([[graft.operators.TextAnalysis
    * .chunkBpeTokens]]): q157's vocab-join tokenizer applied per 16-token
    * context window — the per-SEQUENCE token budgets packing and
    * chunk-dedup consume for long documents (a per-doc total is useless
    * when no single window holds the doc). */
  def chunkBpe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.chunkBpeTokens(Tables.documents(spark, d), 6, 16, 16)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** X3/X4 hybrid retrieval ([[graft.operators.Retrieval.rrfFuse]]):
    * the q144 BM25 lexical list and the q41 dense cosine list (both
    * top-50) fused by reciprocal-rank fusion at K=60 — integer
    * micro-weights, so the fused ranking is engine-exact. */
  def hybridRrf(spark: SparkSession, d: String): DataFrame = {
    val bmList = Retrieval.rankTopN(
      TextAnalysis.bm25(Tables.documents(spark, d),
        Seq("dup", "vector", "stream")),
      "doc_id", "bm25", 50)
    val cosList = Retrieval.rankTopN(
      Similarity.cosineTopK(Tables.embeddings(spark, d), 0L, 50),
      "vec_id", "cos", 50)
    Retrieval.rrfFuse(Seq("bm25" -> bmList, "cos" -> cosList), 60, 20)
  }

  /** X1/X2 quality-canonical cluster representatives ([[graft.operators
    * .Dedup.canonicalByQuality]]): each J ≥ 0.8 near-dup cluster keeps
    * its highest distinct-token-ratio member instead of the arbitrary
    * min id — the curation-grade canonicalization choice. */
  def canonicalReps(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.canonicalByQuality(Tables.documents(spark, d), 0.8)
      .orderBy($"component")
  }

  /** X3 contrastive hard-negative mining ([[graft.operators.Similarity
    * .hardNegatives]]): for each of the first 8 anchors, the top-5
    * highest-cosine vectors of a DIFFERENT label — the wrong-class
    * near-neighbors a contrastive finetune samples as negatives. */
  def hardNegatives(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.hardNegatives(Tables.embeddings(spark, d), 8, 5)
      .orderBy($"qid", $"rnk")
  }

  /** X3 exactly-oracled IVF evaluation ([[graft.operators.Similarity
    * .ivfRecallEval]]): recall@10 of the 2-of-8-cell probe vs the exact
    * cosine top-10 for 16 anchors, over the q136 deterministic trained
    * quantizer — every row (candidate counts, hits, recall) is replayed
    * by the oracle, unlike the summary-pinned ANN serving oracles
    * (q43/q53/q138/q156). */
  def ivfRecall(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.ivfRecallEval(Tables.embeddings(spark, d), 8, 2, 2, 16, 10)
      .orderBy($"qid")
  }

  /** X4 tokenizer fertility by language ([[graft.operators.TextAnalysis
    * .bpeFertilityByLang]]): BPE symbols per word for each corpus
    * language under the q147-trained vocab — the tokenizer-equity
    * metric that decides whether a vocab under-serves a language. */
  def bpeFertility(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bpeFertilityByLang(Tables.documents(spark, d), 6)
      .orderBy($"lang")
  }

  /** X5 cross-modal retrieval ([[graft.operators.Multimodal
    * .featureKnn]]): top-5 cosine neighbors over the DECODED media
    * feature vectors (the deterministic byte-histogram stub) for 8
    * query payloads — the decode stage feeding a real downstream
    * consumer, hash-verified end to end (the stub is a pure byte
    * function the oracle replays). */
  def mediaKnn(spark: SparkSession, d: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    Multimodal.featureKnn(Tables.documents(spark, d), 8, 5)
      .select($"qid", $"nid", $"rnk", $"cos")
      .orderBy($"qid", $"rnk")
  }

  /** X12 size-balanced shard assignment ([[graft.operators.Curation
    * .balancedShards]]): 8 training shards dealt serpentine over the
    * (n_tok DESC, doc_id) rank — per-shard doc/token mass and signed
    * deviation from the ideal eighth. */
  def balancedShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.balancedShards(Tables.documents(spark, d), 8)
      .orderBy($"shard")
  }

  /** X3/X9 exactly-oracled flat-PQ evaluation ([[graft.operators
    * .Similarity.pqRecallEval]]): recall@10 of compressed-domain ADC
    * ranking (q146's trained 4×8 codebooks) vs exact squared-L2 for 8
    * anchors — q167's genuinely-verified eval pattern applied to the
    * quantization axis. */
  def pqRecall(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.pqRecallEval(Tables.embeddings(spark, d), 4, 8, 1, 8, 10)
      .orderBy($"qid")
  }

  /** X2/X8 exact cross-source overlap matrix ([[graft.operators.Dedup
    * .sourceOverlapExact]]): shared distinct 8-grams and set Jaccard
    * for every source pair — the exact audit behind q160's KMV
    * estimates (same matrix shape, ground-truth numbers). */
  def sourceOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.sourceOverlapExact(Tables.documents(spark, d), 8)
      .orderBy($"src_a", $"src_b")
  }

  /** X2 multi-signal dedup evidence ([[graft.operators.Dedup
    * .dedupEvidence]]): every J ≥ 0.5 candidate pair with sizes, shared
    * count, Jaccard, containment and size ratio — the triage table that
    * justifies (or indicts) a dedup threshold. */
  def dedupEvidence(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.dedupEvidence(Tables.documents(spark, d), 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X2/X4 sparse lexical cosine pairs ([[graft.operators.TextAnalysis
    * .lexicalCosinePairs]]): top-50 document pairs by tf-idf
    * micro-vector cosine (top-10 distinctive terms per doc, exact
    * integer dot products) — the inverted-index sparse twin of the
    * dense q71. */
  def lexicalCosine(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.lexicalCosinePairs(Tables.documents(spark, d), 10, 0.6, 50)

  /** X12 curriculum difficulty buckets ([[graft.operators.Curation
    * .curriculumBuckets]]): documents ranked by the 6-dp distinct-token
    * ratio (lexical-diversity difficulty proxy, micro-integer) and cut
    * into 10 equal-population stages off the two-level global rank —
    * per-stage count/min/max/mean audit. */
  def curriculum(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = split(col("text"), " ")
    Curation.curriculumBuckets(Tables.documents(spark, d),
      round(size(array_distinct(toks)).cast("double") / size(toks)
        * lit(1e6)), 10)
      .orderBy($"bucket")
  }

  /** X8 KMV signature MERGEABILITY ([[graft.operators.Sketches
    * .kmvMerge]]): signatures built on the even/odd doc halves, merged
    * signature-side only, against the full-corpus signature — the
    * `minK(A∪B) == minK(minK(A)∪minK(B))` identity that makes the
    * sketch incrementally maintainable, verified per source row by row
    * (all_equal must be 1 everywhere, and the oracle replays both
    * construction paths, so the identity is checked in BOTH engines). */
  def kmvIncremental(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val hash = conv(substring(md5($"text"), 1, 8), 16, 10)
    val full = graft.operators.Sketches
      .kmvSignatures(docs, "source", hash, 192)
    val merged = graft.operators.Sketches.kmvMerge(
      graft.operators.Sketches.kmvSignatures(
        docs.filter($"doc_id" % 2 === 0), "source", hash, 192),
      graft.operators.Sketches.kmvSignatures(
        docs.filter($"doc_id" % 2 =!= 0), "source", hash, 192), 192)
    val nf = full.groupBy($"g").agg(count(lit(1)).as("n_full"))
    val nm = merged.groupBy($"g").agg(count(lit(1)).as("n_merged"))
    val nx = full.join(merged, Seq("g", "h"))
      .groupBy($"g").agg(count(lit(1)).as("n_match"))
    nf.join(nm, "g").join(nx, "g")
      .select($"g".as("src"), $"n_full", $"n_merged", $"n_match",
        ($"n_full" === $"n_merged" && $"n_merged" === $"n_match")
          .cast("int").as("all_equal"))
      .orderBy($"src")
  }

  /** X3/X9 1-bit binary-quantized serving ([[graft.operators.Similarity
    * .binaryTopK]]): Hamming prescreen on sign-bit codes (one 64-bit
    * word per vector) → exact cosine rerank of the 32 nearest code
    * words → top-10 for query vec 0. Integer Hamming + per-row rounded
    * cosine with deterministic tie-breaks at BOTH stage boundaries, so
    * the oracle replays the full result, prescreen cut included. */
  def binaryTopK(spark: SparkSession, d: String): DataFrame =
    Similarity.binaryTopK(Tables.embeddings(spark, d), 0L, 10, 32)

  /** S4/A7-adjacent warehouse op: SCD Type-2 version intervals from the
    * events change log ([[graft.operators.Upsert.scd2]]) — per user, the
    * event_type history compacts to change-only versions with
    * valid_from/valid_to/is_current. One shuffle on user_id; both window
    * passes share it. (ts, event_id) total order makes every interval
    * engine-exact. */
  def scd2Versions(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Upsert.scd2(Tables.events(spark, d), "user_id", "event_type",
      "ts", "event_id")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** X4/G-family per-key OLS trend ([[graft.operators.Learn
    * .groupTrend]]): per-user slope of event value over epoch days via
    * integer sufficient statistics — one scan, one key-sized shuffle,
    * engine-exact 64-bit sums. */
  def userTrend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Learn.groupTrend(Tables.events(spark, d), "user_id", "ts", "value")
      .orderBy($"user_id")
  }

  /** G6/X14 EXACT distributed quantiles ([[graft.operators.Profiling
    * .exactQuantiles]]): p50/p90/p99 of the integer-cents extended
    * price by iterative histogram refinement — ⌈log₂₅₆(range)⌉ filtered
    * aggregates instead of a global sort; the oracle replays the k-th
    * smallest by ordering. */
  def priceQuantiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.exactQuantiles(Tables.lineitem(spark, d),
      round($"l_extendedprice" * 100, 0), Seq(0.5, 0.9, 0.99))
      .orderBy($"q")
  }

  /** X2/X3 prototypicality pruning ([[graft.operators.Similarity
    * .prototypePrune]]): q136's trained quantizer scores every vector
    * against its own cell prototype; the hardest 50% per cell survive —
    * the data-pruning complement of SemDeDup (which drops pairwise
    * near-dups; this drops the prototype-redundant mass). */
  def prototypes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.prototypePrune(Tables.embeddings(spark, d), 8, 2, 0.5)
      .orderBy($"vec_id")
  }

  /** T6-adjacent product analytics ([[graft.operators.Behavior
    * .cohortRetention]]): the classic retention triangle — users
    * bucketed by first active epoch-day, counted at each day offset.
    * Every shuffle is key-sized; exact integer days and counts. */
  def retention(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.cohortRetention(Tables.events(spark, d), "user_id", "ts")
      .orderBy($"cohort_day", $"day_offset")
  }

  /** Strictly-ordered signup → view → purchase conversion funnel
    * ([[graft.operators.Behavior.funnel]]) per signup cohort day —
    * first-matching-subsequence semantics, ppm conversion by integer
    * division. */
  def signupFunnel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.funnel(Tables.events(spark, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase"))
      .orderBy($"cohort_day")
  }

  /** X14/A8 companion diagnostic ([[graft.operators.Profiling
    * .keySkewProfile]]): the top-5 heaviest o_custkey values with
    * µ-share and ×100 ratio to the mean key size — the detector that
    * decides whether [[graft.operators.Salt.saltedJoin]] is needed.
    * Integer divisions only; engine-exact. */
  def orderKeySkew(spark: SparkSession, d: String): DataFrame =
    Profiling.keySkewProfile(Tables.orders(spark, d), "o_custkey", 5)

  /** Batched compressed-domain kNN ([[graft.operators.Similarity
    * .binaryKnnJoin]]): q177's Hamming-prescreen + exact-rerank for a
    * whole query batch (vec_id % 100 == 0) — WindowGroupLimit partial
    * heaps keep the qid shuffle rerank-bounded. */
  def binaryKnn(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Similarity.binaryKnnJoin(emb, emb.filter($"vec_id" % 100 === 0),
        5, 20)
      .orderBy($"qid", $"cos".desc, $"vec_id")
  }

  /** X15 gaps-and-islands ([[graft.operators.Behavior
    * .activityStreaks]]): per-user consecutive-active-day streaks via
    * the tabibitosan constant (d − row_number) — one window, two
    * aggregates, no self-join. */
  def streaks(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.activityStreaks(Tables.events(spark, d), "user_id", "ts")
      .orderBy($"u")
  }

  /** X15 rolling 7-day distinct users ([[graft.operators.Behavior
    * .rollingDistinct]]): the exact non-additive-distinct baseline —
    * re-counted per observed end day over a ≤7-fold key-sized frame. */
  def rollingDau(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.rollingDistinct(Tables.events(spark, d), "user_id", "ts", 7)
      .orderBy($"end_day")
  }

  /** X8 optimizer-style join-size estimation ([[graft.operators
    * .Sketches.joinSizeEstimate]]): |orders ⋈ lineitem| on orderkey
    * from keys-sized count tables + a 1/16 deterministic key sample —
    * exact total, scaled estimate, and honest ppm error in one row. */
  def joinSize(spark: SparkSession, d: String): DataFrame =
    graft.operators.Sketches.joinSizeEstimate(
      Tables.orders(spark, d), "o_orderkey",
      Tables.lineitem(spark, d), "l_orderkey", 16L)

  /** X3/X10 index-lifecycle monitor: codebook DRIFT between the
    * quantizer trained on the even-id half (the "yesterday" index) and
    * the full-corpus retrain — per new cell: member count, the majority
    * old cell's share (µ-exact). Cid label spaces differ across
    * trainings, so drift is measured as majority-alignment purity, not
    * label equality. Both assignments are map-only probes of broadcast
    * centroids ([[graft.operators.Similarity.assignWith]]); the join is
    * on vec_id; one aggregate. The answer to "when must the IVF index
    * rebuild?" — the question every persisted-index deployment
    * (IndexStore, q138/q156) has to keep asking. The two codebooks are
    * VERSIONED IndexStore artifacts (VERDICT r7 #3): each Lloyd chain
    * trains AT MOST ONCE per corpus fingerprint and commits its own
    * snapshot ([[codebookDir]] v1 = even-half "yesterday", v2 = full
    * retrain); the monitor's serving plan reads two k-row parquet
    * codebooks and pays two map-only probes + one aggregate — no
    * training job (parquet stores the IEEE doubles exactly, so the
    * persisted probe is bit-identical to inline training —
    * IndexedOpsSpec pins it). */
  def codebookDrift(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val oldC = Similarity.centroidsOf(graft.sources.IndexStore.ensure(
      spark, codebookDir(d, "v1"),
      graft.sources.IndexStore.sourceFingerprint(s"$d/embeddings.parquet",
        "codebook=even-half,k8,iters2")) {
      Similarity.centroidsDF(spark,
        Similarity.kmeansCentroids(emb.filter($"vec_id" % 2 === 0), 8, 2))
    })
    val newC = Similarity.centroidsOf(graft.sources.IndexStore.ensure(
      spark, codebookDir(d, "v2"),
      graft.sources.IndexStore.sourceFingerprint(s"$d/embeddings.parquet",
        "codebook=full,k8,iters2")) {
      Similarity.centroidsDF(spark, Similarity.kmeansCentroids(emb, 8, 2))
    })
    val pairs = Similarity.assignWith(emb, oldC)
      .withColumnRenamed("cid", "cid_old")
      .join(Similarity.assignWith(emb, newC)
        .withColumnRenamed("cid", "cid_new"), "vec_id")
      .groupBy($"cid_new", $"cid_old").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cid_new").orderBy($"cnt".desc, $"cid_old")
    pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("n", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cid_new")))
      .filter($"rk" === 1)
      .select($"cid_new", $"n", $"cid_old".as("major_old_cid"),
        $"cnt".as("n_major"),
        expr("cnt * 1000000 div n").as("purity_ppm"))
      .orderBy($"cid_new")
  }

  /** Per-SF location of a persisted codebook VERSION (q186: v1 = the
    * even-half "yesterday" training, v2 = the full retrain). */
  def codebookDir(d: String, version: String): String =
    s"spark-warehouse/graft_index/codebook_${version}_${new java.io.File(d).getName}"

  /** G6/X14 exact quantiles over a STORED integer column
    * ([[graft.operators.Profiling.exactQuantilesStored]]): p50/p90/p99
    * of o_custkey with every refinement round's ranges as LITERAL
    * predicates on the stored column — they reach the parquet scan as
    * PushedFilters and rounds ≥ 2 prune row groups by min/max stats
    * (the q180 scaladoc's left-on-the-table item, VERDICT r7 #4).
    * Same oracle shape as q180: k-th smallest by ordering. */
  def custkeyQuantiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.exactQuantilesStored(Tables.orders(spark, d),
      "o_custkey", Seq(0.5, 0.9, 0.99))
      .orderBy($"q")
  }

  /** X15/X8 mergeable-sketch rolling DAU validated against the exact
    * baseline: [[graft.operators.Behavior.rollingDistinctApprox]]
    * (HLL++ partials over the same map-only explode(sequence) window
    * expansion) joined to [[graft.operators.Behavior.rollingDistinct]]
    * per end day; emits the exact count plus a within-envelope flag
    * (|approx − exact| ≤ 1 + 3·rsd·exact — HLL++ is exact in sparse
    * mode at these cardinalities and ±3σ bounds the dense mode). The
    * oracle replays end_day + exact count and pins the flag ≡ 1; the
    * raw approx value is engine-internal so it stays out of the gate
    * columns (the q156 summary-invariant pattern). */
  def rollingDauApprox(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val exact = Behavior.rollingDistinct(ev, "user_id", "ts", 7)
    val approx = Behavior.rollingDistinctApprox(ev, "user_id", "ts", 7, 0.05)
    exact.join(approx, "end_day")
      .select($"end_day", $"n_users",
        (abs($"n_approx" - $"n_users").cast("double") <=
          lit(1.0) + lit(3 * 0.05) * $"n_users")
          .cast("int").as("within_bound"))
      .orderBy($"end_day")
  }

  /** A9 incremental SCD2 merge ([[graft.operators.Upsert.scd2Merge]]):
    * the events log time-split at Jan 16 — the prefix builds the
    * "existing" version table, the suffix is the nightly batch folded
    * in WITHOUT rescanning the log (O(|versions| + |batch|)). The
    * oracle is the FULL-LOG rebuild SQL (q178's), so the gate itself
    * proves merge(split) == rebuild(full) — the incremental-
    * maintenance contract, same shape as q176/q179's merge proofs. */
  def scd2Merged(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val existing = Upsert.scd2(ev.filter($"ts" <= cutoff),
      "user_id", "event_type", "ts", "event_id")
    Upsert.scd2Merge(existing, ev.filter($"ts" > cutoff),
      "user_id", "event_type", "ts", "event_id")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** X15 single-pass funnel ([[graft.operators.Behavior
    * .funnelSinglePass]]): q183's strictly-ordered signup → view →
    * purchase funnel in ONE event-log scan — per-user sorted
    * (ts, stage) fold instead of one min-aggregate join per stage.
    * Same oracle as q183: the gate proves the two forms equal. */
  def funnelOnePass(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.funnelSinglePass(Tables.events(spark, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase"))
      .orderBy($"cohort_day")
  }

  /** X10 OPTIMIZE ZORDER as a manifest maintenance op
    * ([[graft.sources.ManifestTable.optimizeZorder]]): lineitem's
    * (orderkey, partkey, suppkey, quantity) projection lands in a
    * manifest table, ONE commit rewrites it as 8 Morton-clustered
    * files, then a stats-pruned box read
    * ([[graft.sources.ManifestTable.readWhereBetween]] on l_partkey +
    * row filter on both dimensions) returns the box — the oracle
    * replays it as a plain WHERE on the raw parquet, proving the
    * cluster-rewrite preserved rows exactly and pruning dropped
    * nothing. The spec additionally asserts the box touches FEWER
    * files than it would under the unclustered layout (the actual
    * OPTIMIZE payoff); the demo intentionally re-runs the maintenance
    * write per invocation — the op IS the query. */
  def zorderOptimize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ManifestTable
    val dir = maintDir(d, "zopt")
    val li = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"l_quantity")
    ManifestTable.create(dir, Seq("l_partkey", "l_suppkey"))
    ManifestTable.overwriteWithRetry(spark, dir, li)
    ManifestTable.optimizeZorder(spark, dir, "l_partkey", "l_suppkey", 8)
    // retention vacuum: the maintenance write re-runs per invocation
    // (the op IS the query), so without this the data dir accumulates
    // every prior run's files unboundedly across bench runs — keep the
    // current version plus one (the time-travel window a demo needs),
    // which bounds steady-state size at ~2 snapshots
    ManifestTable.vacuum(dir, retainVersions = 1)
    val (_, boxDf, _, _) = ManifestTable.readWhereBetween(spark, dir,
      "l_partkey", 10L, 60L)
    boxDf
      .filter($"l_partkey".between(10, 60) && $"l_suppkey".between(1, 5))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Per-SF location of a maintenance-demo manifest table. */
  def maintDir(d: String, name: String): String =
    s"spark-warehouse/graft_maint/${name}_${new java.io.File(d).getName}"

  /** X15/X8 rolling DAU from the PERSISTED per-day sketch state
    * ([[graft.operators.Behavior.dauState]] →
    * [[graft.operators.Behavior.rollingDistinctFromState]]): the
    * incremental-maintenance form — window rollups read |days| HLL
    * sketches, never the event log (q191 re-sketches from events each
    * time; this is what a daily pipeline persists). Validated exactly
    * like q191: exact count replayed, envelope flag pinned ≡ 1
    * (lgK=12 → rsd ≈ 1.6%, 3σ + 1 absolute). */
  def rollingDauState(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val exact = Behavior.rollingDistinct(ev, "user_id", "ts", 7)
    val approx = Behavior.rollingDistinctFromState(
      Behavior.dauState(ev, "user_id", "ts", 12), 7)
    exact.join(approx, "end_day")
      .select($"end_day", $"n_users",
        (abs($"n_approx" - $"n_users").cast("double") <=
          lit(1.0) + lit(3 * 0.0163) * $"n_users")
          .cast("int").as("within_bound"))
      .orderBy($"end_day")
  }

  /** X15 windowed funnel ([[graft.operators.Behavior.funnelWindowed]]):
    * q183's signup → view → purchase with a 1-day conversion window per
    * step — a too-late event does not complete the stage. Exact
    * timestamp-interval arithmetic in both engines. */
  def funnelWindow(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.funnelWindowed(Tables.events(spark, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase"), 86400L)
      .orderBy($"cohort_day")
  }

  /** X15 last-touch attribution ([[graft.operators.Behavior
    * .lastTouchAttribution]]): each purchase credits the latest
    * click/view within a 7-day lookback; channel = the integer in
    * props. One per-user window pass (latest touch carried forward via
    * last-ignore-nulls over ROWS UNBOUNDED PRECEDING), no per-
    * conversion as-of fan-out. Per channel: conversions, distinct
    * users, value in integer cents — all engine-exact. */
  def attribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.lastTouchAttribution(Tables.events(spark, d), "user_id",
      "ts", "event_type", "event_id", Seq("click", "view"), "purchase",
      regexp_extract($"props", "\\d+", 0).cast("int"), "value", 604800L)
      .orderBy($"channel")
  }

  /** X3/X9 matryoshka truncation eval ([[graft.operators.Similarity
    * .truncatedRecallEval]]): recall@10 of first-16-dims cosine ranking
    * vs the full 64-dim exact top-10, per anchor — the
    * dimension-truncation counterpart of q171's PQ recall report; every
    * row oracle-replayed (list slices + the same left-fold dot). */
  def matryoshkaRecall(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.truncatedRecallEval(Tables.embeddings(spark, d), 16, 8, 10)
      .orderBy($"qid")
  }

  /** X5/X2 cross-media duplicate frames ([[graft.operators.Multimodal
    * .frameDedup]]): every 64-byte frame of every payload, checksum-
    * grouped across the corpus — (checksum, length) pairs seen in ≥ 2
    * distinct media are shared frames (the video counterpart of q119's
    * duplicated text chunks). ASCII fixture → the oracle replays the
    * rolling checksum byte for byte. */
  def frameDedupQ(spark: SparkSession, d: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    Multimodal.frameDedup(Tables.documents(spark, d), 64, 1)
      .orderBy($"checksum", $"n_bytes")
  }

  /** X11/X15 CUSUM changepoint monitor ([[graft.operators.Behavior
    * .rateCusum]]): daily error-event rate vs the corpus baseline with
    * 1% slack; the closed-form prefix-sum/prefix-min CUSUM accumulates
    * sustained drift that a per-day z-score (q114) misses. All-integer
    * ppm arithmetic — every row replays. */
  def errorCusum(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.rateCusum(Tables.events(spark, d), "ts",
      ($"event_type" === "error"), 10000L, 50000L)
      .orderBy($"d")
  }

  /** X14 data-contract gate ([[graft.operators.Profiling
    * .dataContract]]): the publish-time expectation suite over orders —
    * NOT NULL keys, UNIQUE o_orderkey, accepted o_orderstatus, an
    * intentionally-partial o_orderpriority list (nonzero violations —
    * the report counts, it does not just flag), and referential
    * integrity o_custkey → customer.c_custkey. Exact integer counts. */
  def ordersContract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.dataContract(Tables.orders(spark, d),
      notNull = Seq("o_orderkey", "o_custkey"),
      unique = Seq(Seq("o_orderkey")),
      accepted = Map(
        "o_orderstatus" -> Seq("O", "F", "P"),
        "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
      fks = Seq(("o_custkey", Tables.customer(spark, d), "c_custkey")))
      .select($"check".as("check_name"), $"n_violations")
      .orderBy($"check_name")
  }

  /** X14 pairwise correlation matrix ([[graft.operators.Profiling
    * .correlationMatrix]]): Pearson over lineitem's four numeric
    * columns from cent-quantized DECIMAL(38) sufficient statistics —
    * one aggregate pass, exact 128-bit sums in both engines, the only
    * float step is the final rounded division. */
  def lineitemCorr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.correlationMatrix(Tables.lineitem(spark, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), 100.0)
      .orderBy($"col_a", $"col_b")
  }

  /** X15 funnel transition timing ([[graft.operators.Behavior
    * .funnelTiming]]): per step of the signup → view → purchase funnel,
    * how long converters took — exact integer seconds, with the median
    * found by histogram refinement (no users-sized window). */
  def funnelTimes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.funnelTiming(Tables.events(spark, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase"))
      .orderBy($"step")
  }

  /** Time-series forward-fill resample ([[graft.operators.TimeSeries
    * .resampleDailyFfill]]): per user, one row per calendar day of
    * their observation span, gaps carrying the last observed value —
    * the gap-filling that precedes any daily join/model. Map-only span
    * explode + keyed window; deterministic day value by (ts, event_id)
    * struct max. */
  def resampleUsers(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.resampleDailyFfill(Tables.events(spark, d),
      "user_id", "ts", "event_id", "value")
      .orderBy($"k", $"d")
  }

  /** Daily-revenue drawdown ([[graft.operators.TimeSeries
    * .dailyDrawdown]]): running peak of integer-cents daily order value
    * and the per-day shortfall from it — the equity-curve /
    * throughput-regression monitor; exact 64-bit integers replay. */
  def revenueDrawdown(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.dailyDrawdown(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice")
      .orderBy($"d")
  }

  /** X14/G6 equi-height histogram ([[graft.operators.Profiling
    * .equiHeightHistogram]]): 8 equal-population bins of the stored
    * l_partkey column — boundaries by exact quantile refinement (no
    * sort, no ntile), one literal when-chain counting pass. */
  def partkeyHistogram(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.equiHeightHistogram(Tables.lineitem(spark, d),
      "l_partkey", 8)
      .orderBy($"bin")
  }

  /** X2 fuzzy edit-distance pairs ([[graft.operators.Dedup
    * .fuzzyPairs]]): documents within 5 Levenshtein edits, blocked by
    * 12-char prefix + length band — the typo/OCR near-dup signal the
    * set-based paths miss; both engines compute the identical metric. */
  def fuzzyDups(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.fuzzyPairs(Tables.documents(spark, d), 5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X15 A/B experiment readout ([[graft.operators.Behavior.abTest]]):
    * user_id parity as the variant hash-split, purchase as conversion —
    * per-variant exact counts, integer ppm rates, and the two-
    * proportion z statistic (rounded per-row from exact counts). */
  def abReadout(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.abTest(Tables.events(spark, d), "user_id", "event_type",
      "purchase", pmod($"user_id", lit(2L)))
  }

  /** X15 RFM segmentation ([[graft.operators.Behavior.rfmSegments]]):
    * per-user recency/frequency/monetary quartile scores (1–4, 4 best)
    * against exact corpus quartiles — the customer-value grid, ntile-
    * free; segment = r·100 + f·10 + m. */
  def rfm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.rfmSegments(Tables.events(spark, d), "user_id", "ts",
      "value")
      .orderBy($"u")
  }

  /** X2 fuzzy-dedup coverage audit ([[graft.operators.Dedup
    * .fuzzyBlockAudit]]): what q209's run excluded — NULL-text docs
    * and over-cap prefix blocks with the rows they cover — as one
    * exact-integer row. The no-silent-caps companion: q209's pairs
    * plus this row together describe the whole corpus. */
  def fuzzyAudit(spark: SparkSession, d: String): DataFrame =
    Dedup.fuzzyBlockAudit(Tables.documents(spark, d))

  /** X2 two-sided fuzzy pairs ([[graft.operators.Dedup
    * .fuzzyPairsTwoSided]]): q209's prefix blocking plus a suffix
    * (reversed-prefix) block — pairs whose edits fall in the first 12
    * chars are recovered; candidates deduped before the levenshtein
    * verify. */
  def fuzzyDupsTwoSided(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.fuzzyPairsTwoSided(Tables.documents(spark, d), 5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X16 daily-revenue autocorrelation ([[graft.operators.TimeSeries
    * .autocorrelation]]): sample ACF of integer-cents daily order
    * totals at lags 1..7 — the weekly-seasonality / persistence
    * profile, exact DECIMAL(38) sufficient statistics per lag, one
    * rounded division (the q204 contract). */
  def revenueAcf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.autocorrelation(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice", 7)
      .orderBy($"lag")
  }

  /** X13 near-dup graph triangle census ([[graft.operators.Graph
    * .triangleStats]]): exact triangle count + global clustering of
    * the J ≥ 0.5 jaccard-pair graph — dense (clique-like) duplicate
    * families vs accidental transitive chains, the density complement
    * of q64's connected components. */
  def dupGraphTriangles(spark: SparkSession, d: String): DataFrame =
    Graph.triangleStats(
      Dedup.jaccardPairs(Tables.documents(spark, d), 0.5),
      "doc_a", "doc_b")

  /** X16 seasonal-naive backtest ([[graft.operators.TimeSeries
    * .seasonalNaiveBacktest]]): forecast = same weekday last week
    * (period 7) over daily revenue — the exact-integer MAE/MAPE floor
    * any forecasting model must beat; the q217 ACF says WHETHER a
    * weekly structure exists, this measures how much of it the naive
    * rule captures. */
  def revenueNaiveBacktest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.seasonalNaiveBacktest(Tables.orders(spark, d),
      "o_orderdate", $"o_totalprice", 7)
  }

  /** G6 per-group exact quantiles ([[graft.operators.Profiling
    * .exactQuantilesByGroup]]): p50/p90 of integer-cents event value
    * PER event_type — all (type, quantile) pairs refined in ONE
    * shared loop via conditional-column pivot over the multi-column
    * core; the per-key percentile dashboards serve everywhere. */
  def typeValueQuantiles(spark: SparkSession, d: String): DataFrame =
      Pin.scope {
    import spark.implicits._
    // pinned narrow base (round 17): the per-group refinement's range
    // compares otherwise inline the round()·cast derivation per
    // compare — the quantileDrift/exactQuantiles pin, same trade
    val ev = Pin(Tables.events(spark, d)
      .select($"event_type",
        round($"value" * 100, 0).cast("long").as("cents")))
    Profiling.exactQuantilesByGroup(ev, "event_type", "cents",
        Seq(0.5, 0.9), fanout = 65536)
      .orderBy($"group", $"q")
  }

  /** X15 event transition matrix ([[graft.operators.Behavior
    * .eventTransitions]]): exact first-order Markov counts +
    * integer-ppm shares over each user's (ts, event_id)-ordered
    * sequence — the journey/Sankey staple; |types|²-bounded after one
    * keyed window shuffle. */
  def eventFlow(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.eventTransitions(Tables.events(spark, d), "user_id", "ts",
      "event_id", "event_type")
      .orderBy($"from_type", $"to_type")
  }

  /** X15/G6 inter-event gap percentiles ([[graft.operators.Behavior
    * .interEventGapQuantiles]]): exact p50/p90/p99 of seconds between
    * a user's consecutive events — the evidence-based session-gap
    * threshold behind q33's sessionizer. */
  def eventGapQuantiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.interEventGapQuantiles(Tables.events(spark, d), "user_id",
      "ts", "event_id", Seq(0.5, 0.9, 0.99))
      .orderBy($"q")
  }

  /** X14/G6 per-key quantile estimates at unbounded cardinality
    * ([[graft.operators.Profiling.logHistQuantiles]]): p50/p95 of
    * integer-cents event value PER USER from the deterministic
    * power-of-two log histogram — a guaranteed ≤ 2× bracket per
    * (user, q), keys × ≤63 state, the high-cardinality companion of
    * q220's exact per-group refinement. */
  def userValueSketch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .select($"user_id",
        round($"value" * 100, 0).cast("long").as("cents"))
    Profiling.logHistQuantiles(ev, "user_id", "cents", Seq(0.5, 0.95))
      .orderBy($"key", $"q")
  }

  /** X15 DAU/MAU stickiness ([[graft.operators.Behavior.stickiness]]):
    * per observed day, exact daily actives over exact trailing-28-day
    * actives in integer ppm — the engagement-frequency ratio, exact
    * baseline of the sketch ladder. */
  def dauMauStickiness(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.stickiness(Tables.events(spark, d), "user_id", "ts", 28)
      .orderBy($"end_day")
  }

  /** X15 cohort LTV curve ([[graft.operators.Behavior.cohortLtv]]):
    * per (first-active cohort day, day offset) — daily and cumulative
    * integer-cents revenue and cumulative cents per cohort user; the
    * revenue twin of q182's retention triangle, exact 64-bit rows. */
  def ltvCurve(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.cohortLtv(Tables.events(spark, d), "user_id", "ts", "value")
      .orderBy($"cohort_day", $"day_offset")
  }

  /** X15 k-arm experiment readout ([[graft.operators.Behavior
    * .abTestK]]): user_id mod 4 as the arm hash-split, purchase as
    * conversion, arm 0 as control — per-arm exact counts, ppm rates,
    * pairwise-vs-control z from the same integer sufficient stats. */
  def abReadoutK(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.abTestK(Tables.events(spark, d), "user_id", "event_type",
      "purchase", pmod($"user_id", lit(4L)), control = 0L)
      .orderBy($"v")
  }

  /** X15 engagement concentration ([[graft.operators.Behavior
    * .engagementConcentration]]): exact Lorenz points (share of all
    * events from the top 1/10/50% of users, boundary ties exact by
    * closed form) + the Gini coefficient of per-user activity — the
    * power-user / whale-economy readout, ntile- and sort-free. */
  def engagementGini(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.engagementConcentration(Tables.events(spark, d), "user_id",
      Seq(1, 10, 50))
      .orderBy($"top_pct")
  }

  /** X14 categorical mutual information ([[graft.operators.Profiling
    * .mutualInformation]]): I(lang; source) over documents with both
    * marginal entropies — the categorical-dependence profile beside
    * q204's numeric correlation matrix; integer nano-nat rows replay
    * exactly (the q197 PSI recipe). */
  def langSourceMi(spark: SparkSession, d: String): DataFrame =
    Profiling.mutualInformation(Tables.documents(spark, d), "lang",
      "source")

  /** X14/X3 per-dimension PSI drift between the even-id "yesterday"
    * embedding snapshot and the full corpus
    * ([[graft.operators.Profiling.embeddingDriftPsi]]): 8 bins over
    * [−0.5, 0.5] (power-of-two width → exact bucketing), integer-ppm
    * shares, per-bucket nano-PSI rounded to integers before the sum —
    * the oracle replays all 64 rows exactly. The distribution-shift
    * complement of q186's cluster-alignment drift. */
  def embeddingPsi(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Profiling.embeddingDriftPsi(emb.filter($"vec_id" % 2 === 0), emb,
      64, 8, -0.5, 0.5)
      .orderBy($"dim")
  }

  /** X8 join-strategy auto-pick ([[graft.operators.Sketches
    * .joinStrategyPick]]): the broadcast / shuffle / salted decision
    * computed from keys-sized count tables for three join shapes —
    * nation ⋈ region (tiny side → broadcast), orders ⋈ lineitem on
    * orderkey (big, uniform → shuffle), customer ⋈ orders on custkey
    * (big, hot custkeys ≥ 2× mean → salted, the q184 skew profile
    * feeding the q73 mitigation). Budgets: 1000 broadcast rows,
    * skew_x100 ≥ 200. All-integer stats, so the oracle replays the
    * DECISIONS, not just the inputs. */
  def joinStrategies(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def pick(name: String, a: DataFrame, ak: String, b: DataFrame,
        bk: String) =
      graft.operators.Sketches.joinStrategyPick(a, ak, b, bk, 1000L, 200L)
        .withColumn("pair", lit(name))
    pick("nation_region", Tables.nation(spark, d), "n_regionkey",
        Tables.region(spark, d), "r_regionkey")
      .unionByName(pick("orders_lineitem", Tables.orders(spark, d),
        "o_orderkey", Tables.lineitem(spark, d), "l_orderkey"))
      .unionByName(pick("customer_orders", Tables.customer(spark, d),
        "c_custkey", Tables.orders(spark, d), "o_custkey"))
      .select($"pair", $"rows_a", $"rows_b", $"keys_a", $"keys_b",
        $"est_rows", $"skew_x100_a", $"skew_x100_b", $"strategy")
      .orderBy($"pair")
  }

  /** X3 MMR diversified re-rank ([[graft.operators.Similarity
    * .mmrRerank]]): exact top-20 pool for stored query vec 0, greedy
    * k = 5 at λ = 7/10 — integer 1e-4-unit marginals make the greedy
    * trace replay exactly; the redundancy-suppressing page-assembly
    * step after q41's raw top-k. */
  def mmrPage(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.mmrRerank(Tables.embeddings(spark, d), 0L, 20, 5, 7, 10)
      .orderBy($"pick")
  }

  /** X15 Kaplan–Meier churn survival ([[graft.operators.Behavior
    * .survivalCurve]]): user lifetimes with 14 days of end-of-window
    * inactivity = observed churn, anything more recent right-censored;
    * per lifetime day — at-risk/dead/censored counts, integer-ppm
    * hazard, and the exact KM survival product via the integer
    * recurrence (no float product; the oracle replays it with a
    * recursive CTE). */
  def churnSurvival(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.survivalCurve(Tables.events(spark, d), "user_id", "ts", 14)
      .orderBy($"t")
  }

  /** X16 Theil–Sen robust revenue trend ([[graft.operators.TimeSeries
    * .theilSenTrend]]): exact lower-median of all pairwise daily-total
    * slopes in integer micro-cents/day — the outlier-resistant
    * counterpart of q179's OLS trend, calendar²-bounded. */
  def revenueTheilSen(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.theilSenTrend(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice")
  }

  /** X14 Benford first-digit screen ([[graft.operators.Profiling
    * .benfordScreen]]): leading digit of order totals (integer-cents
    * string, no float log10) vs the canonical log10(1+1/d) ppm table,
    * with exact ppb chi-square contributions — the fabricated-amounts
    * tripwire beside q197's PSI drift. */
  def orderBenford(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.benfordScreen(Tables.orders(spark, d), $"o_totalprice")
      .orderBy($"digit")
  }

  /** X15 session path bigrams ([[graft.operators.Behavior
    * .sessionPathBigrams]]): top within-session consecutive event-type
    * pairs under q33's 1800 s gap rule — the visit-scoped journey
    * counts beside q221's lifetime-scoped transition matrix. */
  def sessionPaths(spark: SparkSession, d: String): DataFrame =
    Behavior.sessionPathBigrams(Tables.events(spark, d), "user_id",
      "ts", "event_id", "event_type", 1800L, 15)

  /** X16 linear-interpolation resample ([[graft.operators.TimeSeries
    * .resampleDailyInterp]]): per user, gap days filled on the exact
    * integer-cents line between observed neighbors (truncating div) —
    * q206's forward-fill twin for line-not-step metrics. */
  def resampleInterpUsers(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .withColumn("cents", round($"value" * 100, 0).cast("long"))
    TimeSeries.resampleDailyInterp(ev, "user_id", "ts", "event_id",
      "cents")
      .orderBy($"k", $"d")
  }

  /** X11 Fano-factor burstiness ([[graft.operators.Behavior
    * .fanoFactor]]): var/mean of daily counts per event type over the
    * global calendar in exact integer micro units — Poisson ≈ 1,
    * bursty ≫ 1; the arrival-process profile beside q201's CUSUM. */
  def typeBurstiness(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.fanoFactor(Tables.events(spark, d), "ts", "event_type")
      .orderBy($"event_type")
  }

  /** X15/X14 event-type co-occurrence PMI ([[graft.operators.Behavior
    * .typeCooccurrencePmi]]): user-grain lift in exact integer ppm +
    * pointwise MI in nano-nats per unordered type pair — the
    * market-basket affinity beside q221's sequential transitions. */
  def typeAffinity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.typeCooccurrencePmi(Tables.events(spark, d), "user_id",
      "event_type")
      .orderBy($"type_a", $"type_b")
  }

  /** X13 degree assortativity of the J ≥ 0.5 near-dup graph
    * ([[graft.operators.Graph.degreeAssortativity]]): hub-hub vs
    * hub-leaf attachment over q218's edge set — star-shaped template
    * families read negative, clique cores positive. */
  def dupGraphAssortativity(spark: SparkSession, d: String): DataFrame =
    Graph.degreeAssortativity(
      Dedup.jaccardPairs(Tables.documents(spark, d), 0.5),
      "doc_a", "doc_b")

  /** X14/G6 per-key quantile brackets at quarter-octave resolution
    * ([[graft.operators.Profiling.logHistQuantilesFine]], subBits = 2):
    * q223's deterministic mergeable sketch with 4 integer slices per
    * power-of-two bucket — guaranteed ≤ 1.25× brackets for 4× the
    * (still ≤ 252-row-per-key) state. */
  def userValueSketchFine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .select($"user_id",
        round($"value" * 100, 0).cast("long").as("cents"))
    Profiling.logHistQuantilesFine(ev, "user_id", "cents",
      Seq(0.5, 0.95), subBits = 2)
      .orderBy($"key", $"q")
  }

  /** X2 two-sided fuzzy coverage audit ([[graft.operators.Dedup
    * .fuzzyBlockAuditTwoSided]]): q212's no-silent-caps row for BOTH
    * of q216's blocking sides — forward prefix and reversed-text
    * prefix — so the published coverage describes the two-sided run
    * completely. */
  def fuzzyAuditTwoSided(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.fuzzyBlockAuditTwoSided(Tables.documents(spark, d))
      .orderBy($"side")
  }

  /** X2 sorted-neighborhood pairs ([[graft.operators.Dedup
    * .sortedNeighborhoodPairs]]): verify only records within 5
    * positions of the text-sorted order (2-char key partitions),
    * levenshtein ≤ 5 — the third blocking family of the fuzzy ladder
    * (prefix-equality q209, shingle-inversion q38, sort-adjacency
    * here); O(n·w) candidates by construction. */
  def sortedNeighborhood(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.sortedNeighborhoodPairs(Tables.documents(spark, d), 5, 5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** X14 trimmed mean ([[graft.operators.Profiling.trimmedMean]]):
    * 10%-trimmed integer-cents mean per event type — the robust
    * location estimate beside q211's RFM whale segments; exact micro
    * units, rank-cut ties value-identical. */
  def typeTrimmedMean(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.trimmedMean(Tables.events(spark, d), "event_type",
      round($"value" * 100, 0), 10)
      .orderBy($"group")
  }

  /** X14 winsorized mean ([[graft.operators.Profiling
    * .winsorizedMean]]): q238's clamping twin — tails SET TO the
    * exact rank fences instead of dropped, denominator unchanged;
    * exact micro units with the fences reported. */
  def typeWinsorizedMean(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.winsorizedMean(Tables.events(spark, d), "event_type",
      round($"value" * 100, 0), 10)
      .orderBy($"group")
  }

  /** X14 source-concentration HHI ([[graft.operators.Profiling
    * .concentrationHHI]]): per language, how concentrated the corpus
    * is over sources — exact integer-ppm Herfindahl; the one-number
    * diversity gate beside q215's lang×source MI. */
  def langSourceHHI(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.concentrationHHI(Tables.documents(spark, d), "lang",
      "source")
      .orderBy($"group")
  }

  /** X14/X4 percent-rank scaling ([[graft.operators.Profiling
    * .percentRankPpm]]): each document's length percentile within its
    * language in exact integer ppm (ties share rank — deterministic
    * with no tie-break) — the quantile-uniform feature normalization
    * before cross-language mixing. */
  def docLengthPercentiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.percentRankPpm(Tables.documents(spark, d), "doc_id",
      "lang", "n_chars")
      .orderBy($"group", $"id")
  }

  /** X15 Welch's t ([[graft.operators.Behavior.welchT]]): per-user
    * revenue cents under the user_id mod 2 hash split — the
    * continuous-metric A/B readout beside q210's conversion z; exact
    * DECIMAL sufficient stats, t/df the only (fixed-order) floats. */
  def welchRevenue(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.welchT(Tables.events(spark, d), "user_id",
      round($"value" * 100, 0), pmod($"user_id", lit(2L)))
  }

  /** X15 Mann–Whitney U ([[graft.operators.Behavior.mannWhitneyU]]):
    * the nonparametric twin of q241 in DOUBLED rank units — exact
    * integers end to end, ties-share midranks, rank-biserial effect
    * in exact ppm. */
  def mannWhitneyRevenue(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.mannWhitneyU(Tables.events(spark, d), "user_id",
      round($"value" * 100, 0), pmod($"user_id", lit(2L)))
  }

  /** X14 chi-square independence ([[graft.operators.Profiling
    * .chiSquareIndependence]]): lang × source — the significance
    * companion of q215's MI, per-cell nano contributions summed as
    * exact longs. */
  def langSourceChi2(spark: SparkSession, d: String): DataFrame =
    Profiling.chiSquareIndependence(Tables.documents(spark, d), "lang",
      "source")

  /** X15 market-basket pairs ([[graft.operators.Behavior
    * .basketPairs]]): top co-purchased part pairs at the order grain
    * with exact ppm confidence / lift — A-priori's first rung over
    * lineitem; per-basket work bounded by basket size (≤ 7). */
  def partBasketPairs(spark: SparkSession, d: String): DataFrame =
    Behavior.basketPairs(Tables.lineitem(spark, d), "l_orderkey",
      "l_partkey", 15)

  /** X15 Kolmogorov–Smirnov two-sample ([[graft.operators.Behavior
    * .ksTest]]): per-user revenue cents under the user_id mod 2 hash
    * split — the whole-distribution A/B readout beside q241's mean
    * test and q242's rank test; D in exact ppm of n_a·n_b with the
    * smallest metric value attaining it. */
  def ksRevenue(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.ksTest(Tables.events(spark, d), "user_id",
      round($"value" * 100, 0), pmod($"user_id", lit(2L)))
  }

  /** X14/X16 Kendall τ-b ([[graft.operators.Profiling.kendallTauB]])
    * between daily revenue cents and daily order count — "do busier
    * days make more money, monotonically?" over the calendar-bounded
    * daily frame (the q228 pair-join shape); exact pair counts, τ-b
    * the one fixed-order double. */
  def revenueVolumeKendall(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .select(floor(unix_timestamp($"o_orderdate") / 86400)
          .cast("long").as("day"),
        round($"o_totalprice" * 100, 0).cast("long").as("cents"))
      .groupBy($"day")
      .agg(sum($"cents").as("c"), count(lit(1)).as("m"))
    Profiling.kendallTauB(daily, "day", $"c", $"m")
  }

  /** X14/X16 Spearman ρ ([[graft.operators.Profiling.spearmanRho]])
    * over the same daily (revenue, order-count) frame as q252 —
    * rank-Pearson via exact doubled midranks, ρ the one fixed-order
    * double; agrees in sign with τ-b but weighs rank distance. */
  def revenueVolumeSpearman(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .select(floor(unix_timestamp($"o_orderdate") / 86400)
          .cast("long").as("day"),
        round($"o_totalprice" * 100, 0).cast("long").as("cents"))
      .groupBy($"day")
      .agg(sum($"cents").as("c"), count(lit(1)).as("m"))
    Profiling.spearmanRho(daily, $"c", $"m")
  }

  /** The three rule-based labeling functions every Labeling query
    * shares — "is this a high-quality doc": long enough (n_chars ≥
    * 300), English, and ≥ 50 whitespace tokens. Deterministic,
    * SQL-replayable row-local predicates (the Snorkel LF shape). */
  private def qualityLfs(spark: SparkSession)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import spark.implicits._
    Seq(
      "long"  -> ($"n_chars" >= 300).cast("int"),
      "en"    -> ($"lang" === "en").cast("int"),
      "wordy" -> (size(split($"text", " ")) >= 50).cast("int"))
  }

  /** X17 weak-supervision majority vote ([[graft.operators.Labeling
    * .majorityVote]]): three quality LFs voted into a consensus
    * label, one audit row per LF (coverage, agreement, fire rate in
    * exact ppm) — "which rule is the outlier". */
  def qualityLfVote(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.majorityVote(Tables.documents(spark, d),
        qualityLfs(spark))
      .orderBy($"lf")
  }

  /** X17 Cohen's κ ([[graft.operators.Labeling.cohenKappa]]) between
    * the length and word-count LFs — chance-corrected labeler
    * agreement, exact ppm with DECIMAL-cleared denominators. */
  def qualityLfKappa(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.cohenKappa(Tables.documents(spark, d),
      ($"n_chars" >= 300).cast("int"),
      (size(split($"text", " ")) >= 50).cast("int"))
  }

  /** X17 exact AUC ([[graft.operators.Labeling.aucExact]]): does raw
    * length (n_chars) predict the English label? U⁺/(n⁺·n⁻) in exact
    * ppm via doubled midranks — the threshold-free scorer audit. */
  def lengthAucEnglish(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.aucExact(Tables.documents(spark, d), $"n_chars",
      ($"lang" === "en").cast("int"))
  }

  /** X17 calibration table ([[graft.operators.Labeling
    * .calibrationBins]]): n_chars rescaled to ppm of the fixed 600
    * ceiling as a mock probability, binned into 10 equal-width
    * buckets against the English label — mean score vs positive rate
    * per bucket, all exact integers. */
  def lengthCalibration(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.calibrationBins(Tables.documents(spark, d),
        least(lit(1000000L), expr("n_chars * 1000000 div 600")),
        ($"lang" === "en").cast("int"), 10)
      .orderBy($"bin")
  }

  /** X2 Fellegi–Sunter EM ([[graft.operators.Dedup.linkageEmMU]]):
    * unsupervised m/u estimation over the q276 candidate pairs — two
    * fixed EM iterations in exact ppm integers separate the
    * match-class agreement rates (m) from chance (u) with no labels;
    * the parameter-fitting rung above q275's frequency-based u and
    * q276's assumed-m scoring. Same FINE composite block and
    * comparison fields as q276 (nation × hundred-dollar bucket; segment +
    * exact cents — the scale-safe wiring, see customerLinkagePairs).
    * Deterministic: fixed iterations, fixed operand order, every
    * division truncating on non-negatives. */
  def customerLinkageEm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkageEmMU(c, "c_custkey", "blk_fine", $"c_mktsegment",
      floor($"c_acctbal" * 100).cast("long"), iters = 2)
  }

  /** X17 isotonic (PAV) recalibration ([[graft.operators.Labeling
    * .isotonicCalibration]]): q257's mock probability fitted to a
    * MONOTONE calibration map by pool-adjacent-violators via the
    * exact minimax characterization — per bin, the non-decreasing
    * calibrated ppm beside the raw positive rate; all rates exact
    * truncating-division integers over the bins-sized table. */
  def lengthIsotonic(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.isotonicCalibration(Tables.documents(spark, d),
        least(lit(1000000L), expr("n_chars * 1000000 div 600")),
        ($"lang" === "en").cast("int"), 10)
      .orderBy($"bin")
  }

  /** X17 apply-side isotonic calibration ([[graft.operators.Labeling
    * .isotonicApply]]): q278's trained monotone map scored back over
    * every document — per doc, the raw length score, its bin, and the
    * calibrated ppm; the train→apply seam (the bpeMerges→bpeEncode
    * pattern). Map-only apply: the bins-sized calibration table
    * broadcasts, the document frame is never shuffled. */
  def lengthIsotonicApply(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val score = least(lit(1000000L), expr("n_chars * 1000000 div 600"))
    val cal = Labeling.isotonicCalibration(docs, score,
      ($"lang" === "en").cast("int"), 10)
    Labeling.isotonicApply(
        docs.select($"doc_id", score.as("score_ppm")),
        $"score_ppm", cal, 10)
      .select($"doc_id", $"score_ppm", $"bin", $"cal_ppm")
      .orderBy($"doc_id")
  }

  /** X17 ROC operating points ([[graft.operators.Labeling
    * .rocPoints]]): one row per distinct n_chars threshold against
    * the English label — exact TP/FP with tpr/fpr/precision ppm, the
    * curve behind q256's AUC. */
  def lengthRocPoints(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.rocPoints(Tables.documents(spark, d), $"n_chars",
        ($"lang" === "en").cast("int"))
      .orderBy($"threshold")
  }

  /** X17 Fleiss' κ ([[graft.operators.Labeling.fleissKappa]]) over
    * the three quality LFs as a rater panel — multi-rater
    * chance-corrected agreement in exact ppm with cleared
    * denominators; the panel-level companion of q255's pairwise κ. */
  def qualityLfFleiss(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.fleissKappa(Tables.documents(spark, d),
      qualityLfs(spark).map(_._2))
  }

  /** X14 scalar PSI drift ([[graft.operators.Profiling.numericPsi]]):
    * n_chars distribution of sources src0–src9 vs the rest, 10 bins
    * over [0, 600) — the ingest-drift monitor on one column, per-bin
    * rows as the WHERE of the drift; q197's nano recipe. */
  def lengthDriftPsi(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // src0..src9 sort before src10+ lexicographically via length+name
    val aSide = docs.filter(length($"source") === 4)  // src0..src9
    val bSide = docs.filter(length($"source") > 4)    // src10..src19
    Profiling.numericPsi(aSide, bSide, $"n_chars", 10, 0L, 600L)
      .orderBy($"bin")
  }

  /** X17 accuracy-weighted revote ([[graft.operators.Labeling
    * .weightedVote]]): pass-1 agreement rates become integer-ppm
    * weights, every doc revotes — the Snorkel second rung; audit
    * rows against the REVOTED consensus with each LF's weight. */
  def qualityLfWeightedVote(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.weightedVote(Tables.documents(spark, d),
        qualityLfs(spark))
      .orderBy($"lf")
  }

  /** X17 McNemar's test ([[graft.operators.Labeling.mcnemar]])
    * between the length and word-count LFs — is the disagreement
    * DIRECTION significant (the significance companion of q255's
    * κ magnitude); exact ppm from the discordant cells. */
  def qualityLfMcnemar(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.mcnemar(Tables.documents(spark, d),
      ($"n_chars" >= 300).cast("int"),
      (size(split($"text", " ")) >= 50).cast("int"))
  }

  /** X17 Cochran's Q ([[graft.operators.Labeling.cochranQ]]) over
    * the 3-LF panel — do the rules fire at significantly different
    * rates (the panel-level significance beside q259's Fleiss κ);
    * exact ppm, df = k−1 = 2. */
  def qualityLfCochran(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.cochranQ(Tables.documents(spark, d),
      qualityLfs(spark).map(_._2))
  }

  /** X15 Kruskal–Wallis H ([[graft.operators.Behavior
    * .kruskalWallis]]): per-user revenue cents across user_id mod 3
    * arms — "did ANY arm shift", the k-arm rank companion of q213's
    * conversion readout and q242's two-arm U; exact doubled-midrank
    * machinery, H the one fixed-order float chain. */
  def revenueKruskal(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.kruskalWallis(Tables.events(spark, d), "user_id",
        round($"value" * 100, 0), pmod($"user_id", lit(3L)), 3)
      .orderBy($"v")
  }

  /** A-ext snapshot diff ([[graft.operators.Upsert.snapshotDiff]]):
    * CDC audit between two simulated document-table versions — v1
    * drops doc_id % 5 = 0, v2 drops doc_id % 7 = 0 and rewrites
    * text/n_chars where doc_id % 3 = 0 — one outer join classifying
    * every key added/removed/changed/unchanged plus the per-column
    * churn profile, long-format (dim, n). */
  def documentSnapshotDiff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val v1 = docs.filter(pmod($"doc_id", lit(5L)) =!= 0)
    val v2 = docs.filter(pmod($"doc_id", lit(7L)) =!= 0)
      .withColumn("text", when(pmod($"doc_id", lit(3L)) === 0,
        concat($"text", lit(" v2"))).otherwise($"text"))
      .withColumn("n_chars", when(pmod($"doc_id", lit(3L)) === 0,
        $"n_chars" + 3).otherwise($"n_chars"))
    Upsert.snapshotDiff(v1, v2, "doc_id").orderBy($"dim")
  }

  /** X16 day-of-week profile ([[graft.operators.TimeSeries
    * .weekdayProfile]]): per weekday, exact cents totals/means and the
    * seasonality index vs the overall mean in one exact DECIMAL ppm —
    * the WHAT to q217's weekly-cycle IF. */
  def revenueWeekday(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.weekdayProfile(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice")
      .orderBy($"dow")
  }

  /** X11/X16 MAD outlier days ([[graft.operators.TimeSeries
    * .madOutlierDays]]): days beyond median ± 2·MAD of the daily
    * revenue total — both statistics exact integer medians via the
    * shared refinement; the 50%-breakdown robust fence beside q201's
    * CUSUM and q114's z-score. */
  def revenueOutlierDays(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.madOutlierDays(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice", 2)
      .orderBy($"d")
  }

  /** X17 pairwise LF conflict matrix ([[graft.operators.Labeling
    * .conflictMatrix]]): exact agree/conflict/co-fire counts for every
    * pair of the three quality LFs in ONE aggregate — "which rules
    * fight each other", the diagnostic q254's per-LF-vs-consensus
    * audit cannot show. */
  def qualityLfConflicts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.conflictMatrix(Tables.documents(spark, d),
        qualityLfs(spark))
      .orderBy($"lf_a", $"lf_b")
  }

  /** X16 exact-integer EWMA ([[graft.operators.TimeSeries
    * .ewmaDaily]]): per event type, the alpha = 1/4 exponentially-
    * weighted level of daily revenue cents — the rational-alpha
    * integer recursion (s_t = (x_t + 3·s_{t−1}) div 4) replays
    * engine-exactly in day order, where a float EWMA would drift. */
  def revenueEwma(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.ewmaDaily(Tables.events(spark, d), "event_type", "ts",
      round($"value" * 100, 0), 1, 4)
      .orderBy($"k", $"d")
  }

  /** Median OBSERVED epoch day of a timestamped frame — the shared
    * deterministic split point of q270/q271 and the --stats demo.
    * FLOOR-divides the midpoint (Math.floorDiv) so the value matches
    * DuckDB's `//` even when min+max is negative and odd (JVM `/`
    * truncates toward zero — the exact truncation-vs-floor ambiguity
    * ewmaDaily fail-fasts over). Fails fast with a message on an
    * empty or all-NULL-ts frame instead of NPE-ing on a NULL row. */
  private[graft] def medianObservedDay(df: DataFrame, ts: String)
      : Long = {
    val r = df.agg(
      min(floor(unix_timestamp(col(ts)) / 86400)).cast("long"),
      max(floor(unix_timestamp(col(ts)) / 86400)).cast("long"))
      .collect()(0)
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"medianObservedDay: no non-NULL '$ts' rows — nothing to split")
    Math.floorDiv(r.getLong(0) + r.getLong(1), 2L)
  }

  /** X16 EWMA STATE FORM ([[graft.operators.TimeSeries
    * .ewmaDailyAppend]]), oracled as a REAL identity: the event log is
    * split at its median day; the first half builds the prior state
    * ([[graft.operators.TimeSeries.ewmaDaily]]), the second half is
    * folded on top through the append path (cost O(increment), never
    * O(history)), and prior ∪ appended must equal the oracle's ONE
    * recursion over the FULL log — the oracle replays every row, so
    * any seam error at the split boundary fails the gate. This is
    * q269 in always-on form: the daily monitor folds yesterday onto a
    * persisted level instead of re-reading the log. */
  def revenueEwmaAppend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    // deterministic split day: midpoint of the observed day span
    val cut = medianObservedDay(ev, "ts")
    val day = floor(unix_timestamp($"ts") / 86400).cast("long")
    val prior = TimeSeries.ewmaDaily(ev.filter(day < cut),
      "event_type", "ts", round($"value" * 100, 0), 1, 4)
    val appended = TimeSeries.ewmaDailyAppend(prior,
      ev.filter(day >= cut), "event_type", "ts",
      round($"value" * 100, 0), 1, 4)
    prior.unionByName(appended).orderBy($"k", $"d")
  }

  /** X15 CUPED variance-reduced Welch t ([[graft.operators.Behavior
    * .cupedWelchT]]): per-user post-period revenue adjusted by the
    * same user's PRE-period revenue (θ = pooled cov/var, the Deng
    * et al. 2013 estimator) under the user_id mod 2 split, periods
    * split at the median observed day — q241's readout with the
    * between-user variance explained away. Six exact DECIMAL sums
    * per arm; θ/means/t/df the only (fixed-order) floats. */
  def revenueCuped(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    Behavior.cupedWelchT(ev, "user_id", "ts", round($"value" * 100, 0),
      pmod($"user_id", lit(2L)), medianObservedDay(ev, "ts"))
  }

  /** X16/X11 EWMA control chart ([[graft.operators.TimeSeries
    * .ewmaControlChart]]): per event type, daily revenue flagged when
    * the residual vs the adaptive level exceeds 3× the adaptive
    * deviation (alpha = 1/4 for both, 3-day warmup) — the self-tuning
    * spike monitor beside q201's CUSUM shift monitor, all-integer
    * recursions in day order. */
  def revenueEwmaChart(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.ewmaControlChart(Tables.events(spark, d), "event_type",
      "ts", round($"value" * 100, 0), 1, 4, 1, 4, 3, 3)
      .orderBy($"k", $"d")
  }

  /** X16 Holt linear trend ([[graft.operators.TimeSeries.holtDaily]]):
    * per event type, level + trend + one-step forecast of daily
    * revenue cents (alpha = 1/4, beta = 1/8) — the drift-following
    * forecaster beside q269's level-only EWMA, all-integer with
    * sign-safe truncating division (the trend is signed), so every
    * row replays engine-exactly against a recursive-CTE oracle. */
  def revenueHolt(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.holtDaily(Tables.events(spark, d), "event_type", "ts",
      round($"value" * 100, 0), 1, 4, 1, 8)
      .orderBy($"k", $"d")
  }

  /** X16 Holt append-state seam ([[graft.operators.TimeSeries
    * .holtDailyAppend]]): q273's recursion maintained incrementally —
    * the first half of the log builds the prior, the second half
    * FOLDS onto each key's persisted (level, trend); prior ∪ appended
    * is oracled row-identical to ONE full-log recursion (the same
    * shared SQL constant as q273, so the two oracles cannot drift),
    * including the split-boundary seam where the first appended day
    * reads the stored two-component state. */
  def revenueHoltAppend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cut = medianObservedDay(ev, "ts")
    val day = floor(unix_timestamp($"ts") / 86400).cast("long")
    val prior = TimeSeries.holtDaily(ev.filter(day < cut),
      "event_type", "ts", round($"value" * 100, 0), 1, 4, 1, 8)
    val appended = TimeSeries.holtDailyAppend(prior,
      ev.filter(day >= cut), "event_type", "ts",
      round($"value" * 100, 0), 1, 4, 1, 8)
    prior.unionByName(appended).orderBy($"k", $"d")
  }

  /** X15 post-stratified ATE ([[graft.operators.Behavior
    * .postStratifiedAte]]): per-user revenue cents under the
    * user_id mod 2 split, stratified into three engagement tiers by
    * event count (clamped BEFORE the integer division so no negative
    * operand ever reaches `div`) — the design-based variance
    * reduction beside q271's regression-based CUPED; testable-strata
    * guard keeps the estimator defined at every SF. */
  def revenueAteStratified(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.postStratifiedAte(Tables.events(spark, d), "user_id",
      round($"value" * 100, 0), pmod($"user_id", lit(2L)),
      c => least(floor(greatest(c - 50, lit(0)) / 10), lit(2))
        .cast("long"), 3)
  }

  /** X2 Fellegi–Sunter linkage field weights ([[graft.operators.Dedup
    * .linkageFieldWeights]]): frequency-based chance-agreement u per
    * comparison field of the customer table (market segment, nation,
    * hundred-bucketed balance) and the match/non-match odds at
    * m = 0.95 — the field-evidence calibration that precedes any
    * probabilistic record-linkage join. floor(acctbal / 100) is
    * IEEE-exact in both engines (÷ and floor are correctly rounded). */
  def customerLinkageWeights(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d)
    Dedup.linkageFieldWeights(c, Seq(
      "segment" -> $"c_mktsegment",
      "nation" -> $"c_nationkey",
      "bal_h" -> floor($"c_acctbal" / 100).cast("long")))
      .orderBy($"field")
  }

  /** X2 Fellegi–Sunter pair scoring ([[graft.operators.Dedup
    * .linkagePairScores]]): customer pairs blocked by the FINE
    * composite key (nation, hundred-dollar balance bucket) — the
    * scale-safe production shape (a 25-value nation-only block is the
    * measured R² quadratic; SCALING.md keeps it as the named lesson
    * row `q276_coarseblock`) — scored by the exact-integer product of
    * per-field evidence odds over (market segment, exact balance
    * cents). The cents field is deliberately NOT nested in the block
    * key (a comparison field the block fixes would degenerate to
    * always-agree — the Splink blocking rule): within a hundred-dollar
    * window, cents agreement means the balances are identical, the
    * "same entity" signal. Pairs above the neutral 10¹² pp cut carry
    * NET POSITIVE match evidence at reliability m = 0.7 (dirty-data
    * realism: a true match agrees on a recorded field 70% of the
    * time) — under which segment agreement alone is net positive
    * (LR 3.5 × 0.3 > 1) while identical-balance pairs rank far above;
    * the blocked probabilistic-linkage join q275's weights calibrate;
    * no float anywhere in the score (floor(c_acctbal·100) is the
    * correctly-rounded double product floored — engine-exact, STATUS
    * float rules). */
  def customerLinkagePairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkagePairScores(c, "c_custkey", "blk_fine", Seq(
        "seg" -> $"c_mktsegment",
        "cents" -> floor($"c_acctbal" * 100).cast("long")),
      mPpm = 700000L)
      // DECIMAL(38,0) → BIGINT for the gate (bounded: a both-agree
      // pair tops out at odds_seg × odds_cents ≈ 3.5·10⁶ ppm ×
      // 7·10¹¹ ppm (u_cents clamps at 1 ppm on a near-unique
      // field) ≈ 2.5·10¹⁸ < 2⁶³ ≈ 9.2·10¹⁸)
      .withColumn("score_pp", $"score_pp".cast("long"))
  }

  /** X2 linkage entity clustering ([[graft.operators.Dedup
    * .linkageEntities]]): the rung Splink ships after pair scoring —
    * q276's net-positive pairs as an undirected graph, min-label
    * connected components assign each clustered record its canonical
    * entity id plus the entity's cluster size. Records in no passing
    * pair are unclustered and omitted. The operator never
    * materializes the full pair set: identical-signature records
    * star-connect to a representative (their mutual pairs always
    * pass — runtime-guarded) and only DISTINCT signatures score
    * pairwise, so the edge set stays record-linear on duplicate-dense
    * data where passing pairs grow quadratically — value-identical to
    * CC over q276's full output (the oracle walks the full pair set
    * and hash-matches). Same fine block / fields / m as q276. */
  def customerLinkageEntities(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkageEntities(c, "c_custkey", "blk_fine", Seq(
        "seg" -> $"c_mktsegment",
        "cents" -> floor($"c_acctbal" * 100).cast("long")),
      mPpm = 700000L)
  }

  /** X16 Holt–Winters additive ([[graft.operators.TimeSeries
    * .holtWintersDaily]]): per-event-type daily revenue cents through
    * triple exponential smoothing — level + trend + weekly seasonal
    * slots (d mod 7), α = 1/4, β = 1/8, γ = 1/4, all exact sign-safe
    * integer; the seasonal rung above q273's Holt (which permanently
    * mis-times a weekly cycle). */
  def revenueHoltWinters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.holtWintersDaily(Tables.events(spark, d), "event_type",
        "ts", round($"value" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
      .orderBy($"k", $"d")
  }

  /** X16 Holt–Winters backtest ([[graft.operators.TimeSeries
    * .holtWintersBacktest]]): per event type, q289's one-step
    * forecast MAE against the seasonal-naive baseline — the
    * MASE-style skill readout (skill_ppm < 10⁶ = the model earns its
    * keep), exact integer cents. */
  def revenueHwBacktest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.holtWintersBacktest(Tables.events(spark, d),
        "event_type", "ts", round($"value" * 100, 0), 1, 4, 1, 8, 1,
        4, 7)
      .orderBy($"k")
  }

  /** X16 Holt–Winters append state ([[graft.operators.TimeSeries
    * .holtWintersDailyAppend]]): the three-component state seam —
    * the log split at its median observed day, the first half folded
    * by q289's recursion, the second half APPENDED onto each key's
    * persisted (level, trend, seasonal ring); prior ∪ appended must
    * equal the full-history run row-exactly (the q270/q277 seam
    * pattern — the oracle IS q289's SQL constant). */
  def revenueHwAppend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cut = medianObservedDay(ev, "ts")
    val day = floor(unix_timestamp($"ts") / 86400).cast("long")
    val prior = TimeSeries.holtWintersDaily(ev.filter(day < cut),
      "event_type", "ts", round($"value" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
    val appended = TimeSeries.holtWintersDailyAppend(prior,
      ev.filter(day >= cut), "event_type", "ts",
      round($"value" * 100, 0), 1, 4, 1, 8, 1, 4, 7)
    prior.unionByName(appended).orderBy($"k", $"d")
  }

  /** X17 Dawid–Skene ([[graft.operators.Labeling.dawidSkene]]): the
    * crowdsourcing-standard label model fitted to the same abstaining
    * quality-LF panel as q285 — per-rater sensitivity/specificity and
    * the class prior, two fixed all-integer-ppm EM iterations; the
    * confusion-matrix rung above q264's single accuracy weight. */
  def qualityDawidSkene(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.dawidSkene(Tables.documents(spark, d), Seq(
      when($"n_chars" >= 50, ($"n_chars" >= 300).cast("int")),
      when(pmod($"doc_id", lit(7L)) =!= 0,
        ($"lang" === "en").cast("int")),
      when(pmod($"doc_id", lit(5L)) =!= 0,
        (size(split($"text", " ")) >= 50).cast("int"))), iters = 2)
  }

  /** X17 Dawid–Skene posterior labels ([[graft.operators.Labeling
    * .dawidSkenePosterior]]): q287's fitted model applied back over
    * every voting document — exact-ppm posterior P(true|votes) and
    * the MAP label; the probabilistic consensus where a
    * high-sensitivity rater's vote outweighs a coin-flipper's
    * (q254's hard majority cannot express that). */
  def qualityDsPosterior(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.dawidSkenePosterior(Tables.documents(spark, d), $"doc_id",
      Seq(
        when($"n_chars" >= 50, ($"n_chars" >= 300).cast("int")),
        when(pmod($"doc_id", lit(7L)) =!= 0,
          ($"lang" === "en").cast("int")),
        when(pmod($"doc_id", lit(5L)) =!= 0,
          (size(split($"text", " ")) >= 50).cast("int"))), iters = 2)
      .select($"unit".as("unit"), $"posterior_ppm", $"label")
  }

  /** X15 difference-in-differences ([[graft.operators.Behavior
    * .diffInDiff]]): per-user revenue-cents delta across the
    * mid-month cutoff (2024-01-16), treated = user_id mod 2 — the
    * two-period panel estimator whose differencing removes user-level
    * heterogeneity; the quasi-experimental rung beside q210's A/B,
    * q271's CUPED and q274's post-stratified ATE. */
  def revenueDiffInDiff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.diffInDiff(Tables.events(spark, d), "user_id",
      round($"value" * 100, 0), pmod($"user_id", lit(2L)),
      $"ts" >= expr("TIMESTAMP '2024-01-16 00:00:00'"))
  }

  /** X17 Krippendorff's alpha ([[graft.operators.Labeling
    * .krippendorffAlpha]]): the three quality LFs as a rater panel
    * WITH ABSTENTIONS — the length rule abstains on very short docs
    * (< 50 chars: too little signal to judge), the language rule
    * skips every 7th doc and the wordiness rule every 5th (sampled
    * labeling) — the missing-ratings agreement coefficient q255's
    * pairwise κ and q259's complete-panel Fleiss cannot compute. */
  def qualityKrippendorff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.krippendorffAlpha(Tables.documents(spark, d), $"doc_id",
      Seq(
        when($"n_chars" >= 50, ($"n_chars" >= 300).cast("int")),
        when(pmod($"doc_id", lit(7L)) =!= 0,
          ($"lang" === "en").cast("int")),
        when(pmod($"doc_id", lit(5L)) =!= 0,
          (size(split($"text", " ")) >= 50).cast("int"))))
  }

  /** X2 linkage evidence waterfall ([[graft.operators.Dedup
    * .linkagePairEvidence]]): q276's passing pairs unpacked one row
    * per comparison field — state (agree/disagree/abstain) and the
    * exact odds_ppm that multiplied into the score; the Splink
    * waterfall-chart data, "which field carried this match". */
  def customerLinkageEvidence(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkagePairEvidence(c, "c_custkey", "blk_fine", Seq(
        "seg" -> $"c_mktsegment",
        "cents" -> floor($"c_acctbal" * 100).cast("long")),
      mPpm = 700000L)
  }

  /** X2 graded comparison levels ([[graft.operators.Dedup
    * .linkagePairScoresLeveled]]): q276's blocked candidates graded
    * instead of binary — segment agree/disagree, balance cents
    * exact / close (within $1) / far — with per-level m (caller) and
    * per-level u estimated from the candidate population; every
    * candidate emitted ranked with its level names and exact-integer
    * score (no cut: the leveled readout ranks, the consumer cuts —
    * q276 carries the net-positive convention). */
  def customerLinkageLeveled(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkagePairScoresLeveled(c, "c_custkey", "blk_fine", Seq(
        ("seg", $"c_mktsegment", Seq(
          ("agree", (a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) => a === b, 700000L),
          ("disagree", (a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) => lit(true), 300000L))),
        ("cents", floor($"c_acctbal" * 100).cast("long"), Seq(
          ("exact", (a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) => a === b, 600000L),
          ("close", (a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) => abs(a - b) <= 100, 300000L),
          ("far", (a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) => lit(true), 100000L)))),
      minScorePp = Some(java.math.BigDecimal.ZERO))
      // bounded: max odds product ~ 3.5e6 ppm x 6e11 ppm ~ 2.1e18 < 2^63
      .withColumn("score_pp", $"score_pp".cast("long"))
  }

  /** X2 blocking pre-flight audit ([[graft.operators.Dedup
    * .linkageBlockAudit]]): the exact candidate-pair bill of the
    * coarse nation block vs the shipped fine composite, side by side
    * — Splink's "count comparisons" step, the one-aggregate check
    * that catches SCALING.md's q276 R² quadratic BEFORE any pair
    * forms (at sf0.1: ~4.5M candidates coarse vs ~41k fine). */
  def customerBlockAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.linkageBlockAudit(Tables.customer(spark, d), "c_custkey", Seq(
        "nation_bal100_fine" -> concat_ws("_", $"c_nationkey",
          floor($"c_acctbal" / 100).cast("long")),
        "nation_coarse" -> $"c_nationkey"))
      .orderBy($"block_key")
  }

  /** X2 term-frequency-adjusted linkage scoring ([[graft.operators
    * .Dedup.linkagePairScoresTf]]): q276's blocked pairs rescored with
    * Splink's tf_adjustments — an agreement's evidence uses the AGREED
    * VALUE's own chance-agreement rate (two customers sharing a rare
    * exact balance score far above two sharing the most common
    * segment), disagreements keep the field-level penalty. Same fine
    * block / fields / m as q276; all-integer chain, presented as
    * DOUBLE (a both-agree tf score can exceed int64; an exact integer
    * → double cast is correctly rounded identically in both engines). */
  def customerLinkageTf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).withColumn("blk_fine",
      concat_ws("_", $"c_nationkey", floor($"c_acctbal" / 100).cast("long")))
    Dedup.linkagePairScoresTf(c, "c_custkey", "blk_fine", Seq(
        "seg" -> $"c_mktsegment",
        "cents" -> floor($"c_acctbal" * 100).cast("long")),
      mPpm = 700000L)
      .withColumn("score_pp", $"score_pp".cast("double"))
  }

  /** X15 A/B-split funnel ([[graft.operators.Behavior.funnelByArm]]):
    * the signup→view→purchase funnel per user_id mod 2 arm with a
    * per-step two-proportion z vs arm 0 — "did the variant move
    * step-level conversion", the per-step form of q210. */
  def funnelArms(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.funnelByArm(Tables.events(spark, d), "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase"),
      u => pmod(u, lit(2L)), 0L)
      .orderBy($"arm", $"step")
  }

  /** X3 batch MMR serving ([[graft.operators.Similarity
    * .mmrRerankBatch]]): q226's diversified page for queries {0, 1} in
    * ONE corpus scan — per-query rank-window pools, per-qid pairwise
    * stage, the same integer greedy; the constant-QPS serving form. */
  def mmrServing(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Similarity.mmrRerankBatch(emb, emb.filter($"vec_id" < 2), 10, 3,
      7, 10)
      .orderBy($"qid", $"pick")
  }

  /** X14 exact mode per group ([[graft.operators.Profiling
    * .groupMode]]): most frequent integer-cents value per event type
    * with exact ppm share (smallest-value tiebreak) — the discrete
    * "typical value" beside q238's trimmed mean. */
  def typeValueMode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.groupMode(Tables.events(spark, d), "event_type",
      round($"value" * 100, 0))
      .orderBy($"group")
  }

  /** X13 2-core of the J ≥ 0.5 near-dup graph ([[graft.operators
    * .Graph.kCore]]): documents in at least one duplication CYCLE
    * (chain fringes peel off) with their in-core degree — where
    * cluster-collapse dedup is safe; fail-fast peel within 8 rounds,
    * the oracle unrolls exactly 8. */
  def dupGraphKCore(spark: SparkSession, d: String): DataFrame = Pin.scope {
    import spark.implicits._
    Graph.kCore(Dedup.jaccardPairs(Tables.documents(spark, d), 0.5),
        2, 8, "doc_a", "doc_b")
      .orderBy($"n")
  }

  /** X15 log-rank survival test ([[graft.operators.Behavior
    * .logRankTest]]): does the user_id mod 2 arm split RETAIN users
    * differently — q227's lifetime/censoring model (14-day censor)
    * compared between arms with the Mantel–Cox statistic; O₁/E₁/V
    * accumulate as exact truncating-division integers (ppm/ppt), z is
    * the only float. The survival companion of q213's conversion z. */
  def churnLogRank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.logRankTest(Tables.events(spark, d), "user_id", "ts", 14,
      pmod($"user_id", lit(2L)))
  }

  /** X15 Fleming–Harrington G(1,0) weighted log-rank ([[graft
    * .operators.Behavior.flemingHarringtonTest]]): q293's arm split
    * and lifetime/censoring model, each day's hypergeometric term
    * weighted by the pooled KM survival just before it (q227's exact
    * ppm recurrence) — the EARLY-churn-sensitive readout beside
    * q293's uniform weights; weighted sums exact DECIMAL(38,0), z
    * the only float. */
  def churnWeightedLogRank(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.flemingHarringtonTest(Tables.events(spark, d), "user_id",
      "ts", 14, pmod($"user_id", lit(2L)))
  }

  /** X15 survival span-state seam ([[graft.operators.Behavior
    * .survivalSpanState]] / [[graft.operators.Behavior
    * .mergeSurvivalSpanState]]), oracled as a REAL identity: events
    * split by DAY PARITY (so most users' spans straddle both batches
    * — the merge genuinely folds min/max per user), each batch
    * reduced to its span state at O(batch), merged, and read out
    * through [[graft.operators.Behavior.survivalCurveFromState]] —
    * which must equal q227's one-pass curve over the full log. The
    * maintainer seam for the whole survival family: q227/q293/q301/
    * q308/q310 are all readouts of this one state. */
  def churnSurvivalFromState(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    // project the timestamp ONCE ([[Behavior.eventDays]]); each
    // batch filter reuses the projected day — filter-then-reproject
    // paid the parse twice per batch (12 s → ~6 s at 100×)
    val days = Behavior.eventDays(Tables.events(spark, d),
      "user_id", "ts")
    val prior = Behavior.survivalSpanStateOfDays(
      days.filter(pmod($"d", lit(2L)) === 0))
    val batch = Behavior.survivalSpanStateOfDays(
      days.filter(pmod($"d", lit(2L)) === 1))
    Behavior.survivalCurveFromState(
      Behavior.mergeSurvivalSpanState(prior, batch), 14)
  }

  /** X15 Wald SPRT ([[graft.operators.Behavior.sprtConversion]]):
    * always-on sequential monitor of purchase conversion per user_id
    * mod 2 arm — H0 p=0.2 vs H1 p=0.4 at α=β=0.05, so the micro-nat
    * literals are ln(2)=693147 up, ln(0.75)=−287682 down, and
    * ±ln(19)=2944439 bounds (computed offline; the walk itself is
    * pure integer). "How FEW users until a verdict", where q213
    * waits for the fixed horizon. */
  def purchaseSprt(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.sprtConversion(Tables.events(spark, d), "user_id", "ts",
      "event_type", "purchase", pmod($"user_id", lit(2L)),
      693147L, -287682L, 2944439L, -2944439L)
      .orderBy($"arm")
  }

  /** X11/X16 single changepoint ([[graft.operators.TimeSeries
    * .changepointDaily]]): per event type, the day boundary that
    * minimizes the two-segment SSE of daily value cents — exact
    * prefix-sum g(t) in integer cents², earliest-split tiebreak; the
    * retrospective "WHEN did the level shift" beside q201's online
    * CUSUM alarm. */
  def valueChangepoint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.changepointDaily(Tables.events(spark, d), "event_type",
      "ts", $"value")
      .orderBy($"k")
  }

  /** X13 HITS hubs & authorities ([[graft.operators.Graph
    * .hitsMicro]]): 2 exact-integer mutual-reinforcement iterations
    * over q153's customer→supplier order graph — which suppliers are
    * endorsed by the broadest buyers, and which buyers span the best
    * suppliers; top 50 authorities. */
  def supplierHits(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.orders(spark, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + 1000000000L).as("dst"))
    Graph.hitsMicro(e, 2)
      .orderBy($"authority_micro".desc, $"node").limit(50)
  }

  /** X17 Dawid–Skene state form ([[graft.operators.Labeling
    * .dsPatternState]]), oracled as a REAL identity: the corpus is
    * split by doc_id parity, each half reduces to its ≤ 3³-row vote-
    * pattern histogram, the histograms merge, and the refit must
    * equal q287's full-corpus fit EXACTLY — the EM's sufficient
    * statistic is the pattern count, so the incremental path is
    * arithmetic-identical, not approximate (the oracle IS q287's
    * SQL). This is the always-on labeling monitor: per-batch pattern
    * counts fold into tiny persisted state, parameters refit from
    * state in pattern-sized work. */
  def qualityDsFromState(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def lfs = Seq(
      when($"n_chars" >= 50, ($"n_chars" >= 300).cast("int")),
      when(pmod($"doc_id", lit(7L)) =!= 0,
        ($"lang" === "en").cast("int")),
      when(pmod($"doc_id", lit(5L)) =!= 0,
        (size(split($"text", " ")) >= 50).cast("int")))
    val docs = Tables.documents(spark, d)
    val prior = Labeling.dsPatternState(
      docs.filter(pmod($"doc_id", lit(2L)) === 0), lfs)
    val append = Labeling.dsPatternState(
      docs.filter(pmod($"doc_id", lit(2L)) =!= 0), lfs)
    Labeling.dawidSkeneFromState(
      Labeling.mergeDsPatternState(prior, append), iters = 2)
  }

  /** X13 label-propagation communities, DEDUP-FIRST (the X1→X2→X13
    * pipeline order): exact-dup collapse to one representative per
    * distinct text, 3 deterministic LPA rounds ([[graft.operators
    * .Graph.labelPropagation]]: min label among most-frequent
    * neighbor labels) over the J ≥ 0.5 near-dup graph of the
    * DISTINCT corpus only, then the community id re-expanded to
    * every doc via the dup mapping — the DENSITY communities beside
    * q64's reachability components and q250's 2-core (a bridge edge
    * between two dup families does not merge their labels).
    *
    * Why dedup-first is the only shipped wiring: on a dup-dense
    * corpus the raw near-dup pair graph grows QUADRATICALLY in the
    * duplication rate (R copies of a family → R²·|family|² true
    * pairs — measured: spills past local disk at 100× replication,
    * SCALING.md `q298_rawpairs`), while exact collapse first keeps
    * the pair frame copy-invariant (3.1 s flat at 100×) and LPA
    * itself edge-linear. Exact copies carry identical shingle sets,
    * so a rep's J ≥ 0.5 neighbors ARE its copies' neighbors —
    * re-expansion preserves the community answer for every doc_id.
    * An exact-dup family (≥ 2 copies) whose rep has no near-dup
    * neighbor among distinct texts is its own community, labeled by
    * its rep (in the raw graph its copies are a J = 1 clique whose
    * deterministic-LPA labels oscillate — a family community id is
    * strictly better-defined). Docs with neither an exact copy nor
    * a near-dup neighbor have no edge and (as before) no row.
    * n_members counts EXPANDED docs, so it is the community's true
    * corpus mass, copies included. */
  def dupCommunities(spark: SparkSession, d: String): DataFrame = Pin.scope {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTxt = Window.partitionBy($"text")
    // doc → representative (min doc_id of its exact-text family) in
    // one text-keyed shuffle (window, no groupBy+self-join re-scan)
    val mapped = Tables.documents(spark, d)
      .select($"doc_id", $"text")
      .withColumn("keep_id", min($"doc_id").over(wTxt))
      .withColumn("n_copies", count(lit(1)).over(wTxt))
      .persist()
    val reps = mapped.filter($"doc_id" === $"keep_id")
    val lpa = Graph.labelPropagation(
        Dedup.jaccardPairs(
          reps.select($"keep_id".as("doc_id"), $"text"), 0.5),
        3, "doc_a", "doc_b")
      .select($"node".as("keep_id"), $"community")
    // isolated dup families (≥ 2 exact copies, rep not in the LPA
    // node set) are their own community, labeled by the rep
    val famOnly = reps.filter($"n_copies" >= 2)
      .join(lpa.select($"keep_id"), Seq("keep_id"), "left_anti")
      .select($"keep_id", $"keep_id".as("community"))
    val expanded = mapped
      .join(lpa.unionByName(famOnly), "keep_id")
      .select($"doc_id".as("node"), $"community")
    val out = Pin(expanded
      .join(expanded.groupBy($"community")
        .agg(count(lit(1)).as("n_members")), "community")
      .select($"node", $"community", $"n_members")
      .orderBy($"node")) // pin before releasing the text cache
    mapped.unpersist(false)
    out
  }

  /** X4 vocabulary growth curve ([[graft.operators.TextAnalysis
    * .vocabGrowth]]): the Heaps-law readout over 10 doc-id ranges —
    * running vocabulary vs running token mass with exact-ppm
    * type/token ratio; a flattening curve says more of this source
    * buys redundancy, not coverage. */
  def corpusVocabGrowth(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.vocabGrowth(Tables.documents(spark, d), 10)
      .orderBy($"bucket")
  }

  /** X15 U-shaped attribution ([[graft.operators.Behavior
    * .positionalAttribution]]): per channel (view/click/signup
    * touches), exact-ppm position-based credit for each purchase
    * within a 30-day lookback — first/last 40% each, middles split
    * 20%; the multi-touch middle ground between q225's last-touch
    * winner-take-all and a flat linear split. */
  def purchaseAttribution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.positionalAttribution(Tables.events(spark, d), "user_id",
      "ts", "event_type", "event_id", Seq("view", "click", "signup"),
      "purchase", "value", 30L * 86400)
      .orderBy($"channel")
  }

  /** X15 restricted mean survival time ([[graft.operators.Behavior
    * .rmstByArm]]): expected days retained in the first 30, per
    * user_id mod 2 arm — the exact-integer KM step integral that
    * turns q293's log-rank p-value into an effect size in DAYS. */
  def churnRmst(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.rmstByArm(Tables.events(spark, d), "user_id", "ts", 14,
      30, pmod($"user_id", lit(2L)))
      .orderBy($"arm")
  }

  /** X3 ranked-retrieval metrics ([[graft.operators.Similarity
    * .knnRankingMetrics]]): MRR, nDCG@10 (literal integer discount
    * table), and precision@10 of the exact cosine top-10 against
    * label agreement, for every 25th vector as a query — grades the
    * EMBEDDING SPACE's ranking quality, where q167/q171/q185 grade an
    * index's recall against the exact top-k. */
  def embeddingRankingEval(spark: SparkSession, d: String): DataFrame =
    // FIXED query set (every 25th of the first 2000 ids — corpus-
    // invariant: 80 queries at any replication of the same id space),
    // so the eval load is corpus-LINEAR by construction; the old
    // corpus-proportional every-25th form (queries × corpus =
    // quadratic under replication, 651 s at 100×) survives only as
    // the q302_corpusq SCALING lesson.
    Similarity.knnRankingMetrics(Tables.embeddings(spark, d), 25L, 10,
      Some(2000L))

  /** X3 IVF-PRUNED ranking metrics ([[graft.operators.Similarity
    * .ivfRankingMetricsWith]]): the same MRR/nDCG@10/precision@10
    * report over the 2-of-8-cell probe of the q136/q167 deterministic
    * trained quantizer, 16 fixed queries — the serving-shaped eval
    * (candidates cell-bounded, never corpus × queries) whose every
    * number the oracle replays. The quantizer is the PERSISTED q186
    * full-corpus codebook ([[codebookDir]] v2, trained at most once
    * per corpus fingerprint — parquet round-trips the IEEE doubles
    * exactly, so the probe is bit-identical to inline training); the
    * steady state pays zero training jobs. */
  def ivfRankingEval(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val cents = Similarity.centroidsOf(graft.sources.IndexStore.ensure(
      spark, codebookDir(d, "v2"),
      graft.sources.IndexStore.sourceFingerprint(
        s"$d/embeddings.parquet", "codebook=full,k8,iters2")) {
      Similarity.centroidsDF(spark, Similarity.kmeansCentroids(emb, 8, 2))
    })
    Similarity.ivfRankingMetricsWith(emb, cents, 2, 16, 10)
  }

  /** X14/X15 Poisson-bootstrap CI ([[graft.operators.Profiling
    * .bootstrapMeanCI]]): the 95% percentile-bootstrap interval for
    * the mean order value in exact cents — 100 hash-deterministic
    * Poisson(1) replicates in ONE fanned-out scan, the
    * cluster-honest bootstrap (no global resample). */
  def orderValueCi(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.bootstrapMeanCI(Tables.orders(spark, d), "o_orderkey",
      round($"o_totalprice" * 100, 0), 100, 25)
  }

  /** X4 corpus-contrast keyness ([[graft.operators.TextAnalysis
    * .keynessG2]]): Dunning G² terms that most distinguish source
    * src0 from the rest of the corpus — two nano-rounded ln's per
    * term, exact integers everywhere else; top 25. */
  def sourceKeyness(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.keynessG2(Tables.documents(spark, d),
      $"source" === "src0", 5L, 25)
  }

  /** X15 SPRT state form ([[graft.operators.Behavior
    * .sprtConversionAppend]]), oracled as a REAL identity: users are
    * split by first-event day at the median (a batch carries COMPLETE
    * new users — the seam SPRT itself imposes), the first half builds
    * the persisted walk state, the second half folds on top at
    * O(batch) cost, and prior ∪ batch must equal q294's one walk over
    * the full log — the oracle replays every trial, so any boundary
    * error fails the gate. This is q294 in always-on form: the
    * morning check folds yesterday's signups onto the stored walk. */
  def purchaseSprtAppend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cut = medianObservedDay(ev, "ts")
    val fd = min(floor(unix_timestamp($"ts") / 86400).cast("long"))
    val firstDay = ev.groupBy($"user_id").agg(fd.as("fd"))
    val evTagged = ev.join(firstDay, "user_id")
    val prior = Behavior.sprtConversionState(
      evTagged.filter($"fd" < cut), "user_id", "ts", "event_type",
      "purchase", pmod($"user_id", lit(2L)),
      693147L, -287682L, 2944439L, -2944439L)
    Behavior.sprtFromState(Behavior.sprtConversionAppend(prior,
        evTagged.filter($"fd" >= cut), "user_id", "ts", "event_type",
        "purchase", pmod($"user_id", lit(2L)),
        693147L, -287682L, 2944439L, -2944439L))
      .orderBy($"arm")
  }

  /** X4 vocab-growth state form ([[graft.operators.TextAnalysis
    * .vocabState]]), oracled as a REAL identity: the corpus splits by
    * doc_id parity, each half reduces to its (token → first id) map,
    * the maps merge by min, and the curve rebuilt from state must
    * equal q299's full-corpus run row-exactly (first-occurrence is an
    * associative min — the q297 sufficient-statistic convention at
    * vocabulary size). The always-on corpus monitor: each ingest
    * batch folds its token map into persisted state, the Heaps curve
    * refreshes from state without re-reading history. */
  def corpusVocabFromState(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val h1 = docs.filter(pmod($"doc_id", lit(2L)) === 0)
    val h2 = docs.filter(pmod($"doc_id", lit(2L)) =!= 0)
    TextAnalysis.vocabCurve(
        TextAnalysis.vocabDocStats(h1)
          .unionByName(TextAnalysis.vocabDocStats(h2)),
        TextAnalysis.mergeVocabState(
          TextAnalysis.vocabState(h1), TextAnalysis.vocabState(h2)),
        10)
      .orderBy($"bucket")
  }

  /** X15 Nelson–Aalen cumulative hazard ([[graft.operators.Behavior
    * .nelsonAalen]]): q227's per-day hazards accumulated additively —
    * the estimator hazard-ratio models consume; summands are q227's
    * exact integer-ppm hazards, so the running sum replays exactly. */
  def churnCumHazard(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.nelsonAalen(Tables.events(spark, d), "user_id", "ts", 14)
      .orderBy($"t")
  }

  /** X17 multi-class Dawid–Skene ([[graft.operators.Labeling
    * .dawidSkeneMulti]]): three 3-class raters (length tier, language
    * family, token tier) fitted to per-rater 3×3 confusion matrices +
    * class prior in two all-integer EM iterations — the general-form
    * capstone over q287's binary sensitivity/specificity. */
  def qualityDawidSkeneMulti(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    val nTok = size(split($"text", " "))
    Labeling.dawidSkeneMulti(Tables.documents(spark, d), Seq(
      when($"n_chars" >= 50,
        when($"n_chars" < 150, 0).when($"n_chars" < 300, 1)
          .otherwise(2)),
      when(pmod($"doc_id", lit(7L)) =!= 0,
        when($"lang" === "en", 0).when($"lang" === "de", 1)
          .otherwise(2)),
      when(pmod($"doc_id", lit(5L)) =!= 0,
        when(nTok < 30, 0).when(nTok < 60, 1).otherwise(2))),
      nClasses = 3, iters = 2)
  }

  /** X16 Mann–Kendall trend test ([[graft.operators.TimeSeries
    * .mannKendall]]): is there ANY monotone trend in daily order
    * revenue — the significance companion of q228's Theil–Sen slope
    * over the same daily cents series; S and the tie-corrected 18·Var
    * exact integers, z the one float. */
  def revenueMannKendall(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.mannKendall(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice")
  }

  /** X17 calibration-error summary ([[graft.operators.Labeling
    * .calibrationError]]): ECE/MCE in exact ppm over q257's
    * reliability bins (same score, label, and 10-bin layout) — the
    * one-number before/after gate for q278's isotonic fix. */
  def lengthCalibrationError(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    Labeling.calibrationError(Tables.documents(spark, d),
      least(lit(1000000L), expr("n_chars * 1000000 div 600")),
      ($"lang" === "en").cast("int"), 10)
  }

  /** X12 deterministic stratified eval pull ([[graft.operators
    * .Curation.stratifiedHashSample]]): exactly 5 docs per language by
    * md5-priority order — the auditable "give me k examples per
    * stratum" draw (review queues, golden sets); any engine with md5
    * replays the identical sample. */
  def perLangReviewSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Curation.stratifiedHashSample(Tables.documents(spark, d),
        "doc_id", "lang", 5, "r14")
      .orderBy($"stratum", $"rk")
  }

  /** X4 Zipf rank–frequency slope ([[graft.operators.TextAnalysis
    * .zipfSlope]]): log-log OLS over the top-40 token frequencies,
    * both ln's nano-rounded before exact DECIMAL sums — the corpus-
    * health screen beside q299's Heaps curve. */
  def corpusZipfSlope(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.zipfSlope(Tables.documents(spark, d), 40)

  /** X17 Brier + Murphy decomposition ([[graft.operators.Labeling
    * .brierDecomposition]]): the proper-scoring-rule view of q257's
    * score/label pair — exact micro-unit brier, reliability,
    * resolution, uncertainty (decomposition defined over the binned
    * table, as always). */
  def lengthBrier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.brierDecomposition(Tables.documents(spark, d),
      least(lit(1000000L), expr("n_chars * 1000000 div 600")),
      ($"lang" === "en").cast("int"), 10)
  }

  /** X15 minimum detectable effect ([[graft.operators.Behavior
    * .abTestMde]]): was q213's purchase experiment big enough —
    * MDE at α=0.05/power 0.80 from the literal 2.801585 z-sum, the
    * one √ chain rounded to ppm, and the integer powered flag. */
  def purchaseMde(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.abTestMde(Tables.events(spark, d), "user_id",
      "event_type", "purchase", pmod($"user_id", lit(2L)))
  }

  /** X16 Ljung–Box white-noise test ([[graft.operators.TimeSeries
    * .ljungBox]]): Q over q217's 7-lag revenue ACF, re-integerized
    * from the rounded-6 values — the one-number residual diagnostic
    * beside the per-lag table. */
  def revenueLjungBox(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.ljungBox(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice", 7)
  }

  /** X15 cumulative hazard ratio ([[graft.operators.Behavior
    * .hazardRatioByArm]]): per lifetime day, each arm's exact-ppm
    * Nelson–Aalen hazard over its own risk set and the running
    * cumhaz₁/cumhaz₀ ratio — the proportional-hazards check between
    * q308's single curve and q293's single z. */
  def churnHazardRatio(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Behavior.hazardRatioByArm(Tables.events(spark, d), "user_id",
      "ts", 14, pmod($"user_id", lit(2L)))
      .orderBy($"t")
  }

  /** X5 shot-boundary detection ([[graft.operators.Multimodal
    * .shotBoundaries]]): the top-100 sharpest cuts across all media —
    * consecutive 16-byte frames' histogram L1, byte-normalized exact
    * ppm; the cut detector a video-ingest pipeline runs before
    * keyframe selection, hash-verified end to end through the
    * deterministic decode stub. */
  def mediaShotBoundaries(spark: SparkSession, d: String): DataFrame = {
    implicit val s = spark
    Multimodal.shotBoundaries(Tables.documents(spark, d), 16, 100)
  }

  /** X16 weekly seasonal profile ([[graft.operators.TimeSeries
    * .dayOfWeekProfile]]): per weekday, exact-ppm mean daily revenue
    * vs the overall mean — the first seasonal factor, and the
    * which-days answer behind q217's lag-7 autocorrelation. */
  def revenueDowProfile(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.dayOfWeekProfile(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice").orderBy($"dow")
  }

  /** X13 personalized PageRank ([[graft.operators.Graph
    * .personalizedPageRankMicro]]): q153's customer→supplier order
    * graph with the teleport mass restarted at the BUILDING-segment
    * customers — "which suppliers (and fellow customers) are most
    * relevant to THIS segment", the serving-oriented relevance walk
    * beside q153's global rank; all-integer, oracle replays every
    * superstep CTE-by-CTE. Top 50 by final micro-rank. */
  def buildingSegmentPpr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.orders(spark, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + 1000000000L).as("dst"))
    val seeds = Tables.customer(spark, d)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("node"))
    Graph.personalizedPageRankMicro(e, seeds, 3)
      .orderBy($"r".desc, $"node").limit(50)
  }

  /** X15 stratified log-rank ([[graft.operators.Behavior
    * .stratifiedLogRank]]): q293's arm comparison made WITHIN
    * user_id mod 3 strata, hypergeometric moments summed across
    * them — the confounder-controlled form whose risk window is
    * partitioned by stratum. */
  def churnStratifiedLogRank(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    Behavior.stratifiedLogRank(Tables.events(spark, d), "user_id",
      "ts", 14, pmod($"user_id", lit(2L)), pmod($"user_id", lit(3L)))
  }

  /** X13 degree-capped HITS ([[graft.operators.Graph
    * .hitsTopAuthorities]]): q296's customer→supplier graph pruned to
    * the edges into the top-10 in-degree authorities BEFORE
    * iterating — the serving-oriented form whose superstep frame is
    * bounded by the candidates' in-mass, not the whole edge set. */
  def supplierHitsCapped(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.orders(spark, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + 1000000000L).as("dst"))
    Graph.hitsTopAuthorities(e, 10, 2)
      .orderBy($"authority_micro".desc, $"node").limit(50)
  }

  /** X13 two-round refined authority serving ([[graft.operators.Graph
    * .hitsAuthoritiesRefined]]): q316's supplier-authority question
    * answered EXACTLY — global first-iterate hub scores, then exact
    * second-iterate authority for the overfetched candidate pool; the
    * served top-10 is value-identical to full 2-iteration HITS
    * (measured 10/10 at sf0.1 and the 10× slice where the
    * first-iterate prune read 6/10). */
  def supplierAuthoritiesRefined(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    val e = Tables.orders(spark, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + 1000000000L).as("dst"))
    Graph.hitsAuthoritiesRefined(e, 10, 4)
  }

  /** X17 Matthews correlation ([[graft.operators.Labeling
    * .matthewsCorrelation]]): the length rule (n_chars ≥ 300) as a
    * predictor of the English label — the imbalance-honest
    * single-number confusion summary beside q255's κ and q256's
    * AUC; exact DECIMAL cells, one mirrored √ chain. */
  def lengthMcc(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.matthewsCorrelation(Tables.documents(spark, d),
      ($"n_chars" >= 300).cast("int"), ($"lang" === "en").cast("int"))
  }

  /** X14 Cramér's V ([[graft.operators.Profiling.cramersV]]): the
    * lang × source association of q243's χ² as a [0, 1] effect
    * size — one mirrored √ chain over the exact (n, levels,
    * chi2_nano) row. */
  def langSourceCramersV(spark: SparkSession, d: String): DataFrame =
    Profiling.cramersV(Tables.documents(spark, d), "lang", "source")

  /** X16 variance-ratio test ([[graft.operators.TimeSeries
    * .varianceRatio]]): VR(5) over daily revenue cents — is the
    * revenue series a random walk at the weekly scale; exact
    * DECIMAL sufficient sums per increment population, one mirrored
    * float chain. */
  def revenueVarianceRatio(spark: SparkSession, d: String): DataFrame =
    TimeSeries.varianceRatio(Tables.orders(spark, d), "o_orderdate",
      org.apache.spark.sql.functions.col("o_totalprice"), 5)

  /** X13 per-node local clustering ([[graft.operators.Graph
    * .localClustering]]) over the DEDUP-FIRST near-dup graph — the
    * per-document clique-vs-chain screen (a high-degree low-cc node
    * is a false-positive merge hub); top 25, exact integer ppm.
    * DEDUP-FIRST (the q298 composition, measured necessary round 15):
    * exact-text families collapse to their min-id representative
    * BEFORE the Jaccard graph — an R-copy family is an R-clique whose
    * wedge frame grows R² under replication (the raw form SPILLED
    * PAST LOCAL DISK at 100× where the collapsed form is seconds),
    * and an exact-dup clique carries no structure the audit needs. */
  def dupGraphLocalClustering(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTxt = Window.partitionBy($"text")
    val reps = Tables.documents(spark, d)
      .select($"doc_id", $"text")
      .withColumn("keep_id", min($"doc_id").over(wTxt))
      .filter($"doc_id" === $"keep_id")
      .select($"keep_id".as("doc_id"), $"text")
    Graph.localClustering(Dedup.jaccardPairs(reps, 0.5),
      2, 25, "doc_a", "doc_b")
  }

  /** X4 Heaps'-law exponent ([[graft.operators.TextAnalysis
    * .heapsExponent]]): the one-number fit of q299's vocabulary
    * growth curve (same 10 buckets) — nano-ln OLS in exact
    * DECIMAL, the growth-side dual of q315's Zipf slope. */
  def vocabHeapsExponent(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.heapsExponent(Tables.documents(spark, d), 10)

  /** X3 IVF range search ([[graft.operators.Similarity
    * .ivfRangeSearchWith]]): everything within cosine ≥ 0.25 of the
    * 16 fixed queries, candidates pruned to 2 of the persisted
    * codebook's 8 cells (q309's quantizer) — neighbor count, top
    * cosine and top id per query, every row oracle-replayed. */
  def embeddingRangeSearch(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val cents = Similarity.centroidsOf(graft.sources.IndexStore.ensure(
      spark, codebookDir(d, "v2"),
      graft.sources.IndexStore.sourceFingerprint(
        s"$d/embeddings.parquet", "codebook=full,k8,iters2")) {
      Similarity.centroidsDF(spark, Similarity.kmeansCentroids(emb, 8, 2))
    })
    Similarity.ivfRangeSearchWith(emb, cents, 2, 16, 0.25)
  }

  /** X17 Youden's J optimal threshold ([[graft.operators.Labeling
    * .youdenThreshold]]): the n_chars operating point that best
    * separates English from the rest — argmax of (TPR − FPR) over
    * q258's ROC in integer ppm, ties to the lowest threshold. */
  def lengthYouden(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.youdenThreshold(Tables.documents(spark, d), $"n_chars",
      ($"lang" === "en").cast("int"))
  }

  /** X5 perceptual aHash frame clusters ([[graft.operators.Multimodal
    * .aHashClusters]]): 16-byte frames fingerprinted one bit per
    * byte (≥ frame mean, cross-multiplied exact), clustered by hash
    * — the brightness-shift-tolerant near-dup screen beside q203's
    * exact-checksum frame dedup; top 25 clusters. */
  def mediaAHashClusters(spark: SparkSession, d: String): DataFrame = {
    implicit val s = spark
    Multimodal.aHashClusters(Tables.documents(spark, d), 16, 25)
  }

  /** X15 Greenwood confidence band ([[graft.operators.Behavior
    * .survivalBand]]): the ±1.96·SE envelope around q227's KM curve —
    * exact integer-ppb variance accumulation, one mirrored √ chain
    * per day, band clamped to [0, 10⁶]. */
  def churnSurvivalBand(spark: SparkSession, d: String): DataFrame =
    Behavior.survivalBand(Tables.events(spark, d), "user_id", "ts", 14)

  /** X12 2-D Pareto frontier ([[graft.operators.Curation.skyline2d]]):
    * the documents undominated on (vocabulary richness, type-token
    * density) — maximize distinct tokens AND distinct-per-token ppm;
    * the curation shortlist "most coverage at the least redundancy".
    * Runs on the two-level global running max (no unpartitioned
    * window over the distinct-x frame). */
  def docQualitySkyline(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = org.apache.spark.sql.functions.filter(
      split($"text", " "), t => t =!= "")
    val base = Tables.documents(spark, d)
      .select($"doc_id",
        size(array_distinct(toks)).cast("long").as("dv"),
        size(toks).cast("long").as("tot"))
      .filter($"tot" > 0)
      .select($"doc_id", $"dv",
        expr("dv * 1000000 div tot").as("ttr_ppm"))
    Curation.skyline2d(base, $"dv", $"ttr_ppm", $"doc_id")
  }

  /** X13 edge embeddedness / bridge screen ([[graft.operators.Graph
    * .edgeEmbeddedness]]) over the dedup-first near-dup graph: the 25
    * most suspect edges — fewest common neighbors, highest combined
    * degree — the pairs a dedup audit re-verifies first. */
  def dupGraphBridges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wTxt = Window.partitionBy($"text")
    val reps = Tables.documents(spark, d)
      .select($"doc_id", $"text")
      .withColumn("keep_id", min($"doc_id").over(wTxt))
      .filter($"doc_id" === $"keep_id")
      .select($"keep_id".as("doc_id"), $"text")
    Graph.edgeEmbeddedness(Dedup.jaccardPairs(reps, 0.5), 25,
      "doc_a", "doc_b")
  }

  /** X14 median absolute deviation ([[graft.operators.Profiling
    * .madRobust]]): the robust spread of order values in exact cents —
    * two chained exact-quantile refinements, one long of driver state
    * between, no float anywhere. */
  def orderValueMad(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.madRobust(Tables.orders(spark, d),
      round($"o_totalprice" * 100, 0))
  }

  /** X14 Tukey-fence outlier screen ([[graft.operators.Profiling
    * .tukeyOutliers]]): per event type, values outside the doubled
    * integer fences 2v < 5q1−3q3 / 2v > 5q3−3q1 — the box-plot rule
    * as a data-quality gate, exact end to end. */
  def eventValueOutliers(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Profiling.tukeyOutliers(Tables.events(spark, d), "event_type",
      round($"value" * 100, 0))
  }

  /** X14/X16 rolling quantile from the persisted per-day KLL state
    * ([[graft.operators.QuantileState]]): 7-day rolling p50 of event
    * value cents, read from merged day sketches — q196's pattern on
    * the percentile axis. The oracle replays the exact window counts
    * and pins the envelope flag ≡ 1 (the sketch's own ±3ε normalized
    * rank bound against the exact window CDF, both computed
    * in-query). */
  def rollingValueQuantileState(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cents = round($"value" * 100, 0)
    val state = QuantileState.kllDayState(ev, "ts", cents, 200)
    val approx = QuantileState.rollingQuantileFromState(state, 7, 500, 200)
    // exact window CDF at the sketch's answer: count of window values
    // strictly below / at-or-below q_approx, per end day
    val vals = ev.select(
        floor(unix_timestamp($"ts") / 86400).cast("long").as("vd"),
        cents.cast("long").as("v"))
      .filter($"vd".isNotNull && $"v".isNotNull)
    val days = vals.select($"vd".as("end_day")).distinct()
    vals
      .withColumn("end_day", explode(sequence($"vd", $"vd" + lit(6))))
      .join(broadcast(days), Seq("end_day"), "left_semi")
      .join(broadcast(approx), "end_day")
      .groupBy($"end_day")
      .agg(count(lit(1)).as("n_exact"),
        max($"n_window").as("n_window"),
        sum(($"v" < $"q_approx").cast("long")).as("below"),
        sum(($"v" <= $"q_approx").cast("long")).as("at_or_below"),
        max($"eps").as("eps"))
      .select($"end_day", $"n_window",
        (($"n_window" === $"n_exact") &&
          ($"at_or_below".cast("double") / $"n_exact" >=
            lit(0.5) - lit(3.0) * $"eps") &&
          ($"below".cast("double") / $"n_exact" <=
            lit(0.5) + lit(3.0) * $"eps")).cast("int").as("within_bound"))
      .orderBy($"end_day")
  }

  /** q343: average precision ([[graft.operators.Labeling
    * .averagePrecision]]) — the length rule's PR-AUC against the
    * English label on q256's exact data: the imbalance-honest
    * companion of ROC-AUC, through the same two-level descending
    * cumsum, all truncating integer divs. */
  def lengthAveragePrecision(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.averagePrecision(Tables.documents(spark, d), $"n_chars",
      ($"lang" === "en").cast("int"))
  }

  /** q344: Brown–Forsythe spread test ([[graft.operators.Profiling
    * .brownForsythe]]) — did the VALUE dispersion differ across event
    * types (q261 asks about the center; this asks about the spread),
    * on median-centered absolute deviations with exact per-group
    * medians and denominator-cleared integer W. */
  def eventValueSpread(spark: SparkSession, d: String): DataFrame =
    Profiling.brownForsythe(Tables.events(spark, d), "event_type",
      round(col("value") * 100, 0))

  /** q345: PMI collocations ([[graft.operators.TextAnalysis
    * .pmiCollocations]]) — top adjacent-bigram collocations of the
    * documents corpus (count ≥ 5), the multi-word-unit /
    * boilerplate-phrase extractor; one nano-rounded ln per surviving
    * pair over exact integer counts. */
  def corpusCollocations(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiCollocations(Tables.documents(spark, d), 5, 25)

  /** q346: Jensen–Shannon divergence ([[graft.operators.TextAnalysis
    * .jsDivergence]]) — how far src0's token distribution sits from
    * the rest of the corpus, the symmetric always-finite mixture
    * distance beside q126's per-source KL. */
  def srcZeroJsDivergence(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.jsDivergence(Tables.documents(spark, d),
      $"source" === "src0")
  }

  /** q347: quantile (QQ) drift ([[graft.operators.Profiling
    * .quantileDrift]]) — exact order-value deciles before vs after
    * 1997-01-01 with their deltas: WHERE the distribution moved, in
    * cents, not a compressed PSI/KS number. */
  def orderValueQuantileDrift(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    Profiling.quantileDrift(Tables.orders(spark, d),
      $"o_orderdate" < lit("1997-01-01").cast("timestamp"),
      round($"o_totalprice" * 100, 0))
  }

  /** q348: Cochran–Armitage trend ([[graft.operators.Behavior
    * .cochranArmitage]]) — is conversion monotone across the three
    * ordered user_id%3 exposure tiers; the 1-df ordered sharpening
    * of q213's any-arm z battery. */
  def purchaseTrend(spark: SparkSession, d: String): DataFrame =
    Behavior.cochranArmitage(Tables.events(spark, d), "user_id", 3)

  /** q349: information gain ([[graft.operators.Labeling
    * .informationGain]]) — how many nats the length rule
    * (n_chars ≥ 300) buys against the English label: the
    * decision-stump / LF-selection score beside q327's MCC and
    * q333's Youden J on the same rule. */
  def lengthInfoGain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Labeling.informationGain(Tables.documents(spark, d),
      $"n_chars" >= 300, ($"lang" === "en").cast("int"))
  }

  /** q350: Theil's U₂ ([[graft.operators.TimeSeries.theilU]]) — does
    * the period-7 seasonal-naive revenue forecast beat plain
    * "predict yesterday" (q219's backtest reduced to its skill
    * verdict; U < 1 = the weekly structure is real lift). */
  def revenueTheilU(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TimeSeries.theilU(Tables.orders(spark, d), "o_orderdate",
      $"o_totalprice", 7)
  }

  /** q341: LSH parameter audit, bill side (VERDICT r15 #6) — the
    * per-band candidate-pair bill of the SHIPPED q39 banding (b=16,
    * r=2) over the documents corpus, via the md5-word audit signature
    * every value of which replays in DuckDB. The pre-flight that
    * prices the LSH bucket join before running it (the q284 pattern
    * on the LSH axis). */
  def lshBlockingAudit(spark: SparkSession, d: String): DataFrame =
    Dedup.lshBandBill(Tables.documents(spark, d), 16, 2)

  /** q342: LSH parameter audit, curve side — the detection-probability
    * S-curve 1 − (1 − s^r)^b of the shipped (16, 2) banding on a
    * 25000-ppm similarity grid, exact fixed-point longs end to end
    * (each power step = multiply + truncating div 10⁶, mirrored
    * verbatim in the oracle). Threshold sits at s = (1/16)^(1/2) =
    * 0.25 — the curve is the evidence the shipped constants catch
    * J ≥ 0.8 pairs at ~1 − 10⁻⁷ while passing on sub-0.2 noise. */
  def lshDetectionGrid(spark: SparkSession, d: String): DataFrame =
    Dedup.lshDetectionCurve(spark, 16, 2, 25000, 40)

  /** q340: PER-KEY rolling p99 from the per-(event_type, day) KLL
    * state ([[QuantileState.kllKeyDayState]], VERDICT r15 #2) — the
    * grain a production latency monitor actually queries: per event
    * type, the trailing-7-day p99 of the value metric, read entirely
    * from |keys|·|days| sketch rows. Oracled the q325 way (the q191
    * sketch convention): per (event_type, end_day) the EXACT window
    * count replays in DuckDB, and the randomized p99 estimate is
    * guarded by the in-query ±3ε rank envelope against the exact
    * window CDF, pinned ≡ 1. At p99 the upper arm (below/n ≤
    * 0.99 + 3ε) is near-vacuous — the binding check is the lower arm
    * (at_or_below/n ≥ 0.99 − 3ε); both are emitted through one flag
    * for the oracle.
    *
    * Scale shape: state build is one (key, day) aggregate with
    * map-side sketch partials; the readout explodes ≤ 7·|state|
    * k-bounded byte rows; the envelope check joins the key-day-sized
    * readout (broadcast) back to one pass over the window values. */
  def rollingValueQuantileByType(spark: SparkSession, d: String)
      : DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val cents = round($"value" * 100, 0)
    val state = QuantileState.kllKeyDayState(ev, "event_type", "ts",
      cents, 200)
    val approx = QuantileState.rollingQuantileByKeyFromState(
      state, 7, 990, 200)
    val vals = ev.select($"event_type".cast("string").as("key"),
        floor(unix_timestamp($"ts") / 86400).cast("long").as("vd"),
        cents.cast("long").as("v"))
      .filter($"key".isNotNull && $"vd".isNotNull && $"v".isNotNull)
    val days = vals.select($"key", $"vd".as("end_day")).distinct()
    vals
      .withColumn("end_day", explode(sequence($"vd", $"vd" + lit(6))))
      .join(broadcast(days), Seq("key", "end_day"), "left_semi")
      .join(broadcast(approx), Seq("key", "end_day"))
      .groupBy($"key", $"end_day")
      .agg(count(lit(1)).as("n_exact"),
        max($"n_window").as("n_window"),
        sum(($"v" < $"q_approx").cast("long")).as("below"),
        sum(($"v" <= $"q_approx").cast("long")).as("at_or_below"),
        max($"eps").as("eps"))
      .select($"key".as("event_type"), $"end_day", $"n_window",
        (($"n_window" === $"n_exact") &&
          ($"at_or_below".cast("double") / $"n_exact" >=
            lit(0.99) - lit(3.0) * $"eps") &&
          ($"below".cast("double") / $"n_exact" <=
            lit(0.99) + lit(3.0) * $"eps")).cast("int").as("within_bound"))
      .orderBy($"event_type", $"end_day")
  }
}
