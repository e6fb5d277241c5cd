package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data assembly (north-star X4+):
  * GPT-style sequence packing into fixed context windows, quality-ordered
  * token-budget cuts, and deterministic hash-stratified mixture sampling.
  *
  * The packing and budget ops need a GLOBAL ordered prefix sum over the
  * corpus. The textbook plan (`Window.orderBy` with no partition) funnels
  * every row through ONE partition — the exact cliff the q118 vocab-coverage
  * rewrite removed — so both build on [[withGlobalCumsum]], the same
  * two-level cumulative sum: range-partition by the order key, rank +
  * prefix-sum locally per bucket, fold the (≤ `shuffle.partitions`)
  * per-bucket totals into offsets with array aggregates on ONE row, and
  * broadcast the offsets back. No single-partition stage anywhere; scales
  * to any corpus the range partitioner can split.
  *
  * Mixture sampling is hash-deterministic (md5 of the doc id), not
  * `sample()`-random: re-runs, backfills, and independent engines pick the
  * exact same documents, which is what makes the op auditable and its
  * results reproducible — a requirement for training-data governance, not
  * a nicety.
  */
object Curation {

  /** Column names [[withGlobalCumsum]] injects (plus its internals). */
  private val Reserved =
    Seq("__bucket", "__v", "__lrn", "__lcum", "rn", "cum", "tot")

  /** Level one of the two-level cumsum: range-partition on the total order
    * `order`, then rank + running sum of `value` WITHIN each partition
    * (all windows share the per-bucket partitioning — one shuffle, one
    * sort). `spark_partition_id` is only consistent across consumers that
    * read one materialization — executable callers go through
    * [[withGlobalCumsum]], which pins it. */
  private def ranked(df: DataFrame, order: Seq[Column],
      value: Column): DataFrame = {
    // cumsumPlan's broadcast-join internals included (ADVICE r15):
    // an input 'row_off'/'cum_off' would make its join ambiguous
    (Reserved ++ Seq("row_off", "cum_off")).foreach { r =>
      require(!df.columns.contains(r),
        s"input column '$r' collides with a cumsum output/internal name")
    }
    val nBuckets = df.sparkSession.sessionState.conf.numShufflePartitions
    val wLoc = Window.partitionBy(col("__bucket")).orderBy(order: _*)
    df.repartitionByRange(nBuckets, order: _*)
      .withColumn("__bucket", spark_partition_id())
      .withColumn("__v", value.cast("long"))
      .withColumn("__lrn", row_number().over(wLoc))
      .withColumn("__lcum", sum(col("__v"))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Level two: per-bucket totals (brows = rows, bsum = value sum) are
    * collected into ONE array row — bounded by `shuffle.partitions`, i.e.
    * by config, not by data — prefix-summed with array aggregates (O(B²)
    * for B ≤ a few thousand buckets, driver-free and trivially cheap),
    * and broadcast back onto the level-one rows. */
  private def cumsumPlan(local: DataFrame): DataFrame = {
    // brows = row_number max (always positive); bsum must be the plain
    // per-bucket SUM, not max of the running sum — they only coincide for
    // non-negative values, and callers may pass signed deltas (ADVICE r14)
    val btot = local.groupBy(col("__bucket"))
      .agg(max(col("__lrn")).as("brows"), sum(col("__v")).as("bsum"))
    val offs = btot
      .agg(array_sort(collect_list(
        struct(col("__bucket"), col("brows"), col("bsum")))).as("bs"))
      .select(explode(expr(
        "transform(bs, (x, i) -> struct(x.__bucket AS __bucket, " +
          "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.brows) AS row_off, " +
          "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.bsum) AS cum_off, " +
          "aggregate(bs, 0L, (a, y) -> a + y.bsum) AS tot))")).as("o"))
      .select(col("o.__bucket").as("__bucket"), col("o.row_off").as("row_off"),
        col("o.cum_off").as("cum_off"), col("o.tot").as("tot"))
    local.join(broadcast(offs), "__bucket")
      .withColumn("rn", col("__lrn") + col("row_off"))
      .withColumn("cum", col("__lcum") + col("cum_off"))
      .drop("__bucket", "__v", "__lrn", "__lcum", "row_off", "cum_off")
  }

  /** Attach a global 1-based rank `rn`, INCLUSIVE running sum `cum` of
    * `value`, and grand total `tot` over the total order `order` (which
    * MUST be total — include a unique tiebreak column, or ranks are
    * nondeterministic). ONE eager pin (round 16, VERDICT r15 #1): the
    * LEVEL-ONE frame is localCheckpoint'd — `spark_partition_id` is
    * only stable across consumers of one materialization, and the
    * checkpoint freezes it; everything downstream (per-bucket totals,
    * the offsets fold, the broadcast join) is a deterministic function
    * of the checkpointed rows, so the OUTPUT needs no pin of its own.
    * The previous two-materialization form (persist level one +
    * checkpoint the joined result) paid the fixed pin cost TWICE per
    * call — measured across the rank-statistic family (q242/q251/q253/
    * q256/q258/q261), the single-pin form recovered ~40% of each
    * query's wall time at sf0.1. A consumer that reads the result
    * twice re-runs the (cheap, checkpoint-fed) offsets fold + join
    * per read — value-identical by determinism. */
  def withGlobalCumsum(df: DataFrame, order: Seq[Column],
      value: Column): DataFrame =
    cumsumPlan(Pin(ranked(df, order, value)))

  /** MULTI-VALUE generalization of [[withGlobalCumsum]]: attach the
    * global 1-based rank `rn` plus, for EACH (name → value) pair, the
    * INCLUSIVE running sum `cum_<name>` and grand total `tot_<name>`,
    * all over ONE range-partitioned sort of the total order `order`
    * (which MUST be total — include a unique tiebreak column). Built
    * for the rank-statistic family (Mann–Whitney / Kruskal–Wallis /
    * KS / Spearman / AUC / ROC), whose distinct-VALUE frames are
    * unbounded in principle (an integer-cents per-user metric's
    * distinct-value count approaches the user count), so their
    * cumulative counts must never funnel through an unpartitioned
    * `Window.orderBy` — the exact cliff this file's header names.
    * Same two-level plan as [[withGlobalCumsum]]: range-partition,
    * rank + k local running sums per bucket (one shuffle, one sort),
    * fold the ≤ `shuffle.partitions` per-bucket totals into offsets
    * with array aggregates on ONE row, broadcast the offsets back.
    * Same single-pin contract as [[withGlobalCumsum]] (round 16): one
    * eager checkpoint of the level-one frame, deterministic tail. */
  def withGlobalCumsums(df: DataFrame, order: Seq[Column],
      values: Seq[(String, Column)]): DataFrame =
    cumsumPlanMulti(Pin(rankedMulti(df, order, values)),
      values.map(_._1))

  /** Level one of the multi-value cumsum — [[ranked]] with k local
    * running sums sharing the one per-bucket sort. */
  private def rankedMulti(df: DataFrame, order: Seq[Column],
      values: Seq[(String, Column)]): DataFrame = {
    require(values.nonEmpty, "values must be non-empty")
    val names = values.map(_._1)
    require(names.distinct == names, s"duplicate value names in $names")
    names.foreach { n =>
      require(n.matches("[A-Za-z0-9_]+"), s"value name '$n'") }
    val reserved = Seq("__bucket", "__lrn", "rn", "row_off") ++
      names.flatMap(n =>
        Seq(s"__v_$n", s"__lcum_$n", s"cum_$n", s"tot_$n", s"cum_off_$n"))
    reserved.foreach { r =>
      require(!df.columns.contains(r),
        s"input column '$r' collides with a cumsum output/internal name")
    }
    val nBuckets = df.sparkSession.sessionState.conf.numShufflePartitions
    val wLoc = Window.partitionBy(col("__bucket")).orderBy(order: _*)
    val wCum = wLoc.rowsBetween(Window.unboundedPreceding, 0)
    val base = df.repartitionByRange(nBuckets, order: _*)
      .withColumn("__bucket", spark_partition_id())
    val withVals = values.foldLeft(base) { case (d, (n, v)) =>
      d.withColumn(s"__v_$n", v.cast("long")) }
    values.foldLeft(withVals.withColumn("__lrn", row_number().over(wLoc))) {
      case (d, (n, _)) =>
        d.withColumn(s"__lcum_$n", sum(col(s"__v_$n")).over(wCum))
    }
  }

  /** Level two of the multi-value cumsum — [[cumsumPlan]]'s one-row
    * array fold with k bsum fields per bucket. */
  private def cumsumPlanMulti(local: DataFrame,
      names: Seq[String]): DataFrame = {
    // per-bucket totals as plain sums of the value columns (signed-safe;
    // max of the running sum only equals the total for non-negatives)
    val aggs = max(col("__lrn")).as("brows") +:
      names.map(n => sum(col(s"__v_$n")).as(s"bsum_$n"))
    val btot = local.groupBy(col("__bucket")).agg(aggs.head, aggs.tail: _*)
    val structCols = col("__bucket") +: col("brows") +:
      names.map(n => col(s"bsum_$n"))
    val offFields = Seq(
      "x.__bucket AS __bucket",
      "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.brows) AS row_off") ++
      names.flatMap(n => Seq(
        s"aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.bsum_$n)" +
          s" AS cum_off_$n",
        s"aggregate(bs, 0L, (a, y) -> a + y.bsum_$n) AS tot_$n"))
    val offs = btot
      .agg(array_sort(collect_list(struct(structCols: _*))).as("bs"))
      .select(explode(expr(
        s"transform(bs, (x, i) -> struct(${offFields.mkString(", ")}))"))
        .as("o"))
      .select(col("o.*"))
    val joined = local.join(broadcast(offs), "__bucket")
      .withColumn("rn", col("__lrn") + col("row_off"))
    val withCums = names.foldLeft(joined) { (d, n) =>
      d.withColumn(s"cum_$n", col(s"__lcum_$n") + col(s"cum_off_$n")) }
    withCums.drop(
      (Seq("__bucket", "__lrn", "row_off") ++
        names.flatMap(n => Seq(s"__v_$n", s"__lcum_$n", s"cum_off_$n"))): _*)
  }

  /** TWO-LEVEL GLOBAL RUNNING MAX — the [[withGlobalCumsum]] pattern
    * on the MAX axis (round 15): attach `cummax`, the running maximum
    * of `value` over the STRICT predecessors of each row in the total
    * order `order` (NULL for the global first row — strict precedence
    * is what dominance tests like [[skyline2d]] need; max is
    * associative, so the same two-level plan applies: range-partition,
    * per-bucket strict-prefix window max, fold the ≤ partitions
    * per-bucket maxima into strictly-preceding-bucket offsets on ONE
    * row, broadcast back, `greatest` of the two levels — Spark's
    * `greatest` skips NULLs, which is exactly the empty-prefix
    * semantics). Also attaches the global rank `rn`. Signed-safe (a
    * max of anything is fine). Same single-pin contract as
    * [[withGlobalCumsum]] (round 16). */
  def withGlobalCummax(df: DataFrame, order: Seq[Column],
      value: Column): DataFrame =
    cummaxPlan(Pin(rankedMax(df, order, value)))

  private def rankedMax(df: DataFrame, order: Seq[Column],
      value: Column): DataFrame = {
    // cummaxPlan additionally injects __lmax / row_off / max_off
    // (ADVICE r15) — an input column with one of those names would
    // make its broadcast join ambiguous or silently wrong
    (Reserved ++ Seq("__lmax", "row_off", "max_off")).foreach { r =>
      require(!df.columns.contains(r),
        s"input column '$r' collides with a cummax output/internal name")
    }
    require(!df.columns.contains("cummax"),
      "input column 'cummax' collides with the output name")
    val nBuckets = df.sparkSession.sessionState.conf.numShufflePartitions
    val wLoc = Window.partitionBy(col("__bucket")).orderBy(order: _*)
    df.repartitionByRange(nBuckets, order: _*)
      .withColumn("__bucket", spark_partition_id())
      .withColumn("__v", value.cast("long"))
      .withColumn("__lrn", row_number().over(wLoc))
      // strict prefix: the row's own value is excluded
      .withColumn("__lmax", max(col("__v"))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, -1)))
  }

  private def cummaxPlan(local: DataFrame): DataFrame = {
    val btot = local.groupBy(col("__bucket"))
      .agg(max(col("__lrn")).as("brows"), max(col("__v")).as("bmax"))
    val offs = btot
      .agg(array_sort(collect_list(
        struct(col("__bucket"), col("brows"), col("bmax")))).as("bs"))
      .select(explode(expr(
        "transform(bs, (x, i) -> struct(x.__bucket AS __bucket, " +
          "aggregate(slice(bs, 1, i), 0L, (a, y) -> a + y.brows)" +
          " AS row_off, " +
          "aggregate(slice(bs, 1, i), cast(null as bigint), " +
          "(a, y) -> greatest(a, y.bmax)) AS max_off))")).as("o"))
      .select(col("o.__bucket").as("__bucket"),
        col("o.row_off").as("row_off"), col("o.max_off").as("max_off"))
    local.join(broadcast(offs), "__bucket")
      .withColumn("rn", col("__lrn") + col("row_off"))
      .withColumn("cummax", greatest(col("__lmax"), col("max_off")))
      .drop("__bucket", "__v", "__lrn", "__lmax", "row_off", "max_off")
  }

  /** 2-D PARETO FRONTIER (skyline: MAXIMIZE both axes) — the
    * quality-vs-quantity curation readout: which documents are
    * undominated when every point wants more of x AND more of y
    * (p dominates q iff x_p ≥ x_q ∧ y_p ≥ y_q with one strict)?
    * Classic database skyline via one sort: reduce to the per-x best
    * (max y, min id among its attainers — the exact-struct-max
    * trick), then a point survives iff its y strictly beats the
    * running max over STRICTLY greater x — [[withGlobalCummax]] over
    * the x-descending order, so the distinct-x frame never funnels
    * through an unpartitioned window (this file's header cliff).
    * Exact integers end to end. Output: (x, y, first_id) for each
    * frontier point, x descending.
    *
    * Scale shape: one (x)-keyed aggregate, the two-level running
    * max over the distinct-x frame, a filter. */
  def skyline2d(df: DataFrame, x: Column, y: Column,
      id: Column): DataFrame = {
    val g = df.select(x.cast("long").as("x"), y.cast("long").as("y"),
        id.cast("long").as("id"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("id").isNotNull)
      .groupBy(col("x"))
      .agg(max(struct(col("y"), (-col("id")).as("nid"))).as("m"))
      .select(col("x"), col("m.y").as("y"),
        (-col("m.nid")).as("first_id"))
    withGlobalCummax(g, Seq(col("x").desc), col("y"))
      .filter(col("cummax").isNull || col("y") > col("cummax"))
      .select(col("x"), col("y"), col("first_id"))
      .orderBy(col("x").desc)
  }

  /** Concat-and-chunk sequence packing — the GPT-style training-batch prep:
    * documents are laid end-to-end in `idCol` order and the token stream is
    * cut every `capacity` tokens. Emits per-bin occupancy stats: documents
    * contributing to the bin, documents fully contained in it, token count
    * (== `capacity` for every bin but the last, by construction), and the
    * first/last contributing doc ids.
    *
    * Scale shape: one global cumsum (two-level, no single-partition stage),
    * then a bin explode that replicates each doc to the bins its span
    * touches — a doc lands in 1 + floor(n_tok/capacity) bins at most, so
    * the explode is O(corpus tokens / capacity + corpus docs), and the
    * final groupBy shuffles only (bin, counters) rows. The document text
    * itself never travels: only (doc_id, n_tok) survives past the scan. */
  def packBins(docs: DataFrame, capacity: Long, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(capacity >= 1, s"capacity=$capacity")
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 1) // sequence(first,last) must ascend
    val order = Seq(col("doc_id").asc)
    withGlobalCumsum(toks, order, col("n_tok"))
      .withColumn("start", col("cum") - col("n_tok"))
      .withColumn("bin", explode(sequence(
        expr(s"start div ${capacity}L"), expr(s"(cum - 1) div ${capacity}L"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("start") >= col("bin") * capacity &&
          col("cum") <= (col("bin") + 1) * capacity, 1L).otherwise(0L))
          .as("n_full_docs"),
        sum(least(col("cum"), (col("bin") + 1) * capacity) -
          greatest(col("start"), col("bin") * capacity)).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Ordered budget cut: rank rows by `order` (total order — include a
    * tiebreak) and keep the prefix whose running `valueCol` total stays
    * inside the budget `tot · budgetNum / budgetDen`. A row is kept iff
    * its span STARTS strictly inside the budget, so the row that crosses
    * the boundary is kept and the cut never selects zero value. Returns
    * the input columns plus `rn`, `cum`, `tot`, and the `kept` flag.
    *
    * The comparison is all-integer ((cum − v)·den < tot·num) — no float
    * budget rounding to disagree about at any scale; overflow-safe while
    * tot·max(num,den) < 2⁶³ (a 10¹³-token corpus leaves room for
    * num/den up to ~10⁵). */
  def budgetCut(docs: DataFrame, order: Seq[Column], valueCol: String,
      budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1,
      s"budget $budgetNum/$budgetDen")
    withGlobalCumsum(docs, order, col(valueCol)).withColumn("kept",
      (col("cum") - col(valueCol)) * budgetDen < col("tot") * budgetNum)
  }

  /** End-to-end curation recipe — the canonical admission chain of an
    * LLM corpus assembly as ONE declarative plan:
    *   1. QUALITY: [[TextAnalysis.withGopherRules]], keep docs passing
    *      at least `minRules` of the five rules (score thresholding —
    *      the practical setting when a corpus systematically fails one
    *      rule, e.g. a stopword list mismatched to its domain);
    *   2. DEDUP: exact-text winners (lowest doc_id per text);
    *   3. BUDGET: [[budgetCut]]'s boundary rule over doc_id order —
    *      keep while the token budget is unspent BEFORE the doc.
    * One audit row per quality-passing winner: (doc_id, n_tok, rn, cum,
    * tot, kept).
    *
    * Each stage is an already-oracled operator (q135/q37/q128
    * semantics); the point of the composite is that chaining them is
    * filter/projection composition Catalyst pipelines into the stages'
    * own shuffles — integration costs no extra pass: the Gopher metrics
    * are row-local in the scan, the winner rule is one text-key
    * shuffle, and the cumsum is the two-level range shuffle budgetCut
    * always pays. At 100 TB the text column dies at the winner shuffle;
    * only (doc_id, n_tok) reaches the cumsum. */
  def curationPipeline(docs: DataFrame, minWords: Int, minRules: Int,
      budgetNum: Long, budgetDen: Long): DataFrame = {
    require(minRules >= 0 && minRules <= 5, s"minRules=$minRules")
    val score = col("r_word_count") + col("r_word_len") + col("r_symbol") +
      col("r_alpha") + col("r_stop")
    val quality = TextAnalysis.withGopherRules(docs, minWords = minWords)
      .filter(score >= minRules)
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val winners = quality.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
    val sized = winners.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    budgetCut(sized, Seq(col("doc_id").asc), "n_tok", budgetNum, budgetDen)
      .select(col("doc_id"), col("n_tok"), col("rn"), col("cum"),
        col("tot"), col("kept").cast("int").as("kept"))
  }

  /** Deterministic hash-stratified mixture sampling: every stratum (e.g.
    * crawl source/domain) gets an equal share of a corpus-wide token
    * budget `tot · budgetNum / budgetDen`, realized by sampling the
    * stratum's docs at rate share/stratum_tokens via a uniform 32-bit
    * hash of the doc id (first 8 hex digits of md5). Returns per-stratum
    * (n_docs, n_sampled, tok_sampled).
    *
    * All thresholds are integer arithmetic — threshold_s =
    * (share · 2³²) div stratum_tokens — so any two engines (and any two
    * runs) agree exactly on every sampled doc. Overflow-safe while the
    * per-stratum share < 2³¹ tokens; for corpora beyond ~2 G tokens per
    * stratum, scale by 2²⁰ instead of 2³² (the rate resolution drops from
    * 1/4·10⁹ to 1/10⁶ — still far finer than any curation decision).
    *
    * Scale shape: doc hashes are row-local; the stratum totals table is
    * domain-cardinality (thousands at web scale) and broadcast; one
    * groupBy on the stratum key. A stratum whose rate ≥ 1 keeps every doc
    * (threshold exceeds the 32-bit hash range — no special-casing). */
  def mixtureSample(docs: DataFrame, budgetNum: Long, budgetDen: Long,
      textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source"): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1, s"budget $budgetNum/$budgetDen")
    val t = docs.select(col(strataCol).as("stratum"),
      size(split(col(textCol), " ")).cast("long").as("n_tok"),
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val strata = t.groupBy(col("stratum"))
      .agg(sum(col("n_tok")).as("src_tok"))
    val g = strata.agg(sum(col("src_tok")).as("tot"),
      count(lit(1)).as("n_strata"))
    val thr = strata.crossJoin(broadcast(g))
      .withColumn("share",
        expr(s"(tot * ${budgetNum}L) div (${budgetDen}L * n_strata)"))
      .withColumn("thr", expr("(share * 4294967296L) div src_tok"))
      .select(col("stratum"), col("thr"))
    t.join(broadcast(thr), "stratum")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("h") < col("thr"), col("n_tok")).otherwise(0L))
          .as("tok_sampled"))
  }

  /** Uniform 32-bit content hash of the id column — the shared coin every
    * deterministic sampler here flips (first 8 hex digits of md5, so any
    * engine with md5 reproduces the exact draw). */
  private def hash32(idCol: String): Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** DETERMINISTIC FIXED-SIZE STRATIFIED SAMPLE — exactly `k` rows per
    * stratum (all of a smaller stratum), chosen by md5-PRIORITY order:
    * each row's priority is md5("tag:id"), and the k smallest
    * priorities per stratum win. This is bottom-k priority sampling
    * (the order-statistics view of uniform sampling without
    * replacement): auditable, replayable on any engine with md5,
    * stable under re-runs and backfills — [[mixtureSample]] answers
    * "sample at a RATE per stratum", this answers "give me exactly k
    * EXAMPLES per stratum" (eval pulls, human-review queues, golden
    * sets). The `tag` salts the draw so successive review rounds pick
    * fresh rows without reshuffling earlier ones.
    *
    * Scale shape: the priority is row-local; the per-stratum cut is
    * ONE partitioned rank window (strata are the parallel grain);
    * output ≤ k·|strata| rows. No global sort, no unpartitioned
    * window. */
  def stratifiedHashSample(df: DataFrame, idCol: String,
      strataCol: String, k: Int, tag: String): DataFrame = {
    require(k >= 1, s"k=$k")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("priority"), col("id"))
    df.select(col(strataCol).as("stratum"),
        col(idCol).cast("long").as("id"))
      .withColumn("priority",
        md5(concat(lit(tag), lit(":"), col("id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("stratum"), col("rk").cast("long").as("rk"),
        col("id"), col("priority"))
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each doc draws u ∈ (0,1] from its id
    * hash and competes with key u^(1/w); the k largest keys win — docs
    * with weight `weightCol` are selected with probability proportional
    * to w, and the whole draw replays bit-identically on any engine.
    * Ranked by ln(u)/w (same order as u^(1/w), no overflow for tiny u),
    * scaled to an integer nano-key so the cross-engine comparison is on
    * integers, doc-id tiebreak.
    *
    * Scale shape: the key is row-local map work; the only data movement
    * is the top-k itself (TakeOrderedAndProject — per-partition heaps of
    * k rows, then a k·partitions merge on one reducer; no full sort, no
    * wide shuffle). Zero/negative weights are excluded by definition
    * (they can never win a proportional draw). */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k=$k")
    val u = (hash32(idCol) + lit(1L)) / lit(4294967296.0)
    // the weight is cast to LONG once and that integer drives BOTH the
    // ranking key and the reported w — a fractional weight column would
    // otherwise rank on the fraction while reporting (and any SQL twin
    // replaying from) the integer, silently breaking the bit-identical-
    // replay contract (ADVICE r6). Weights that truncate to <= 0 are
    // excluded like any nonpositive weight.
    val wLong = col(weightCol).cast("long")
    val keyNano = round(log(u) / wLong * lit(1e9)).cast("long")
    docs.filter(wLong > 0)
      .select(col(idCol).as("doc_id"), wLong.as("w"), keyNano.as("key_nano"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-source document quota: keep at most `cap` docs per stratum,
    * chosen by content-hash order (md5 of the text — an unbiased,
    * re-runnable shuffle within the stratum) with doc-id tiebreak. The
    * standard "no single crawl domain may dominate the mixture" guard.
    *
    * Scale shape: one hash-partition shuffle on the stratum key; the
    * `rk <= cap` filter is a rank-limit Spark's WindowGroupLimit rewrite
    * pushes into the sort (per-partition top-cap heaps before the
    * shuffle), so a mega-stratum never materializes its full sorted run.
    * Stratum skew beyond that is AQE's to split. */
  def sourceQuota(docs: DataFrame, cap: Int, strataCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("hk"), col("doc_id"))
    docs.select(col(strataCol).as("stratum"), col(idCol).as("doc_id"),
        md5(col(textCol)).as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select(col("stratum"), col("rk"), col("doc_id"))
  }

  /** Temperature-based mixture sampling (the multilingual-pretraining
    * α-sampling move: sample stratum s with probability ∝ shareᵅ, α < 1
    * upweighting the tail strata): per-stratum micro-weights
    * `W_s = round(shareᵅ · 10⁶)` are the ONLY float step (rounded at a
    * scale where a cross-engine pow ulp cannot flip them); the target
    * token budget per stratum, `(tot · num · W_s) div (den · ΣW)`, and
    * the per-doc keep threshold `(target_s · 2³²) div src_tok` are
    * exact integer arithmetic, so any engine picks the same docs.
    * Same output shape as [[mixtureSample]] (which is the α=0 equal-
    * share special case): per-stratum (n_docs, n_sampled, tok_sampled).
    *
    * Scale shape: identical to [[mixtureSample]] — row-local doc
    * hashes, a domain-cardinality strata table broadcast both ways, one
    * groupBy. Micro-weight overflow headroom: tot · num · 10⁶ < 2⁶³
    * holds to ~10¹² tokens; beyond that drop the micro scale a decade. */
  def temperatureSample(docs: DataFrame, alpha: Double, budgetNum: Long,
      budgetDen: Long, textCol: String = "text", idCol: String = "doc_id",
      strataCol: String = "source"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha")
    require(budgetNum >= 0 && budgetDen >= 1, s"budget $budgetNum/$budgetDen")
    val t = docs.select(col(strataCol).as("stratum"),
      size(split(col(textCol), " ")).cast("long").as("n_tok"),
      hash32(idCol).as("h"))
    val strata = t.groupBy(col("stratum"))
      .agg(sum(col("n_tok")).as("src_tok"))
    // totals via broadcast one-row aggregates, never a global window —
    // same shape as mixtureSample, no single-partition stage
    val withW = strata
      .crossJoin(broadcast(strata.agg(sum(col("src_tok")).as("tot"))))
      .withColumn("w",
        round(pow(col("src_tok") / col("tot"), alpha) * 1e6).cast("long"))
    val thr = withW
      .crossJoin(broadcast(withW.agg(sum(col("w")).as("w_sum"))))
      .withColumn("target",
        expr(s"(tot * ${budgetNum}L * w) div (${budgetDen}L * w_sum)"))
      .withColumn("thr", expr("(target * 4294967296L) div src_tok"))
      .select(col("stratum"), col("thr"))
    t.join(broadcast(thr), "stratum")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("h") < col("thr"), col("n_tok")).otherwise(0L))
          .as("tok_sampled"))
  }

  /** Deterministic stratified subsampling: docs are bucketed by fixed
    * `strata` thresholds on `sizeCol` (ascending upper bounds; the last
    * stratum is open-ended) and each stratum keeps docs whose 32-bit id
    * hash clears its integer rate threshold `num/den` — the "downsample
    * the short-doc flood, keep every long doc" curation move, exact and
    * replayable on any engine.
    *
    * Scale shape: bucket + hash + keep-decision are all row-local map
    * work; the single shuffle is the per-stratum summary aggregate
    * (stratum cardinality = `strata.size + 1` — nothing). The kept-doc-id
    * sum pins membership, not just counts, without hauling doc lists. */
  def stratifiedSample(docs: DataFrame,
      strata: Seq[(String, Long, Long, Long)], openLabel: String,
      openNum: Long, openDen: Long, sizeCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    require(strata.nonEmpty && strata.map(_._2) == strata.map(_._2).sorted,
      "strata upper bounds must ascend")
    (strata.map(_._4) :+ openDen).foreach(d => require(d >= 1, s"den=$d"))
    val stratum = strata.foldRight(lit(openLabel): Column) {
      case ((label, ub, _, _), rest) =>
        when(col(sizeCol) < ub, lit(label)).otherwise(rest)
    }
    val thr = strata.foldRight(lit((openNum * 4294967296L) / openDen)) {
      case ((label, _, num, den), rest) =>
        when(col("stratum") === label,
          lit((num * 4294967296L) / den)).otherwise(rest)
    }
    docs.select(stratum.as("stratum"), hash32(idCol).as("h"),
        col(idCol).cast("long").as("id"))
      .withColumn("keep", col("h") < thr)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("id")).otherwise(0L)).as("kept_id_sum"))
  }

  /** Curriculum difficulty BUCKETS — rank documents by a caller-supplied
    * integer difficulty score (score DESC, id tiebreak — total order)
    * and cut the ranked stream into `buckets` equal-population stages:
    * the curriculum-learning prep that feeds easy→hard training phases.
    * The bucket index is `((rank−1)·buckets) ÷ total` — pure integer
    * arithmetic off the two-level global rank ([[withGlobalCumsum]]), so
    * there is NO ntile and NO single-partition window anywhere; the
    * audit row per bucket carries count, min/max score, and the mean
    * (one per-row division of two exact integers).
    *
    * The score must already be integral (micro-scale floats before
    * calling) — that is what makes every boundary engine-exact. */
  def curriculumBuckets(docs: DataFrame, score: Column, buckets: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets")
    val base = docs.select(col(idCol).as("doc_id"), score.cast("long").as("s"))
    val order = Seq(col("s").desc, col("doc_id"))
    // floor(double) is exact integer division here: operands < 2^53
    withGlobalCumsum(base, order, lit(1L)).withColumn("bucket",
        floor((col("rn") - 1) * buckets / col("tot")).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("s")).as("min_s"), max(col("s")).as("max_s"),
        sum(col("s")).as("sum_s"))
      .withColumn("avg_s", round(col("sum_s") / col("n_docs"), 6))
      .select(col("bucket"), col("n_docs"), col("min_s"), col("max_s"),
        col("avg_s"))
  }

  /** Deterministic size-balanced SHARD assignment — the distributed-
    * training prep step that splits a corpus into `nShards` worker files
    * of near-equal token mass: rank documents by (n_tok DESC, doc_id) —
    * a total order — and deal them out SERPENTINE (rank cycle
    * 0,1,…,n-1,n-1,…,1,0), the folding heuristic that pairs each large
    * document with small ones in the same shard; plain round-robin
    * systematically overloads the shard that gets every cycle's largest.
    * Emits the per-shard audit row: doc count, token mass, and the
    * signed deviation from the ideal tot/nShards (integer division —
    * engine-exact).
    *
    * Scale shape: the global rank comes from [[withGlobalCumsum]]'s
    * two-level plan (value = 1), so there is NO single-partition window
    * anywhere; the serpentine fold is row-local integer arithmetic and
    * the final aggregate shuffles nShards rows.
    *
    * (Sibling: [[curriculumBuckets]] cuts the same kind of global rank
    * into difficulty stages instead of dealing it into shards.) */
  def balancedShards(docs: DataFrame, nShards: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards")
    val base = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tok"))
    val ranked = withGlobalCumsum(base,
      Seq(col("n_tok").desc, col("doc_id")), lit(1L))
    val cycle = (col("rn") - 1) % (2 * nShards)
    val shard = when(cycle < nShards, cycle)
      .otherwise(lit(2 * nShards - 1) - cycle).cast("int")
    val perShard = ranked.withColumn("shard", shard)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = Window.partitionBy() // nShards rows — bounded by config
    perShard
      .withColumn("dev",
        col("n_tokens") - floor(sum(col("n_tokens")).over(tot)
          / nShards).cast("long"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("dev"))
  }
}
