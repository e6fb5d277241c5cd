package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for headline queries → EXPLAIN.md, the
  * plan-quality evidence backing README's 100 TB notes (pushed filters,
  * pruned read schemas, broadcast joins, TakeOrderedAndProject, exchanges
  * only where a shuffle is semantically required).
  * Regenerate: `sbt "runMain graft.Explain /root/testdata/sf0.001"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession()
    // Inclusion rule (VERDICT r8 #3, hardened r16): EVERY oracled query
    // appears — the list is DERIVED from SparkEntry.queries (numeric
    // order), never hand-maintained, so it cannot drift as queries are
    // added. A query whose full execution is NOT one lazy plan — a
    // maintenance WRITE (q194), a driver-loop composition whose result
    // frame is literals (q205, q208, and the refinement rounds behind
    // q180/q190) — is represented by its CONSTITUENT plans (the final
    // read-back or per-round/final-pass aggregate), built in the `match`
    // below with a note in EXPLAIN.md naming what the dump covers.
    val headline = SparkEntry.queries.keys.toSeq
      .sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt)
    // Reader-facing notes for queries whose dump is a constituent plan
    // rather than the whole query (maintenance writes / driver loops).
    val notes = Map(
      "q180_exact_quantiles" -> ("The full query is a ⌈log_fanout(span)⌉-" +
        "round driver refinement (state ≤ fanout·|qs| longs); the plan " +
        "below is ONE round's histogram in round-2 shape — the only " +
        "distributed work the query does."),
      "q190_stored_quantiles" -> ("Same refinement loop as q180 but on a " +
        "STORED column: the round's literal ranges reach the scan as " +
        "PushedFilters (see the scan node below) — row-group pruning is " +
        "live from round 2 on."),
      "q194_zorder_optimize" -> ("The query IS a maintenance op: a " +
        "manifest overwrite + ONE OPTIMIZE ZORDER commit (morton code → " +
        "repartitionByRange → sortWithinPartitions, executed eagerly " +
        "before this plan exists), then the stats-pruned box read-back " +
        "dumped below — the write side cannot appear in a lazy plan."),
      "q280_linkage_entities" -> ("Iterative composition: q276's " +
        "blocked scoring feeds the q64 CC loop (neighbor-min + pointer " +
        "doubling, each round localCheckpoint-pinned), so the dump " +
        "below shows the FINAL pass — converged labels (checkpoint " +
        "scan) joined to the component-size aggregate; the per-round " +
        "plan is q64's."),
      "q287_dawid_skene" -> ("Driver-loop composition (the q180 " +
        "refinement convention): each EM iteration is one map-only " +
        "responsibility projection into one conditional aggregate, " +
        "parameters are 2k+1 ppm literals collected per iteration; " +
        "the returned frame is literals, so the dump below is the " +
        "final iteration's aggregate shape."),
      "q288_ds_posterior" -> ("Same fit loop as q287, then the dump " +
        "below: ONE map-only posterior projection through the fitted " +
        "literal parameters — the frame is never shuffled (the ORDER " +
        "BY exchange is presentation)."),
      "q305_ds_multiclass" -> ("q287's driver-loop EM in the " +
        "general C-class form: each iteration is one map-only " +
        "C-responsibility projection into one (1 + C + k·C²)-column " +
        "conditional aggregate; the returned frame is parameter " +
        "literals, so the dump below is the final iteration's " +
        "aggregate shape."),
      "q296_hits" -> ("Iterative composition (the q153 superstep " +
        "regime): each half-step joins the localCheckpoint-pinned " +
        "edge table to the node-sized score frame and renormalizes " +
        "by a 1-row broadcast max, localCheckpointing the result — " +
        "the dump below is the FINAL join of the converged " +
        "authority/hub checkpoints."),
      "q297_ds_state" -> ("q287's driver EM loop refit over the " +
        "merged ≤ 3^k-row pattern histogram (the only data-sized " +
        "work is the per-half pattern aggregate + count-sum merge); " +
        "the returned frame is parameter literals, like q287."),
      "q205_funnel_timing" -> ("Driver-loop composition: stage times " +
        "(windowless per-stage min-aggregates) feed ONE conditional " +
        "stats aggregate (below) plus a shared multi-column median " +
        "refinement (q180's histogram shape); the returned frame is " +
        "driver-side literals, so the full query is not one lazy plan."),
      "q208_equi_hist" -> ("Boundary probe = q190's stored-column " +
        "refinement (⌈log⌉ rounds, probes deduped across the 7 " +
        "quantiles); the final counting pass below buckets every row " +
        "with a LITERAL when-chain — codegen'd comparisons, no join; " +
        "shown with representative bounds."),
      "q220_group_quantiles" -> ("Driver-loop composition (the " +
        "multi-column refinement returns driver literals): shown below " +
        "is the FIRST distributed pass — the conditional-column group " +
        "pivot feeding one stats aggregate (representative two groups); " +
        "the refinement rounds over the same pivot share q180's " +
        "histogram shape."),
      "q222_gap_quantiles" -> ("Driver-loop composition: shown below is " +
        "the gaps projection (ONE keyed window shuffle) the refinement " +
        "rounds then scan — the rounds share q180's histogram shape and " +
        "the returned frame is driver literals."),
      "q226_mmr_rerank" -> ("The greedy MMR selection folds over the " +
        "CONSTANT-size pool (<= 256 rows) on the driver, so the full " +
        "query is not one lazy plan; shown below is the distributed " +
        "stage — the integer-scored top-pool scan (broadcast query, " +
        "TakeOrderedAndProject, q41's shape) the fold consumes."),
      "q227_churn_survival" -> ("The KM survival product is an integer " +
        "recurrence folded on the driver over the CALENDAR-bounded " +
        "lifetime table, so the returned frame is driver literals; " +
        "shown below is the distributed stage — the per-user " +
        "first/last aggregate reduced to (lifetime, deaths, censored)."),
      "q228_theil_sen" -> ("The median slope runs through the shared " +
        "quantile refinement (q180's driver loop) over the PINNED " +
        "pairs frame (long-decomposed slope arithmetic — the " +
        "DECIMAL numerator was 7x the cost — with a decimal fallback " +
        "chosen from the day-sum span), so the full query is not one " +
        "lazy plan; shown below is the distributed core — the " +
        "calendar-bounded pairwise slope join the min/max aggregate " +
        "and every refinement round scan."),
      "q252_kendall_tau" -> ("The row count (maxRows fail-fast) and " +
        "the calendar-bounded base frame pin eagerly, so shown below " +
        "is the distributed core — the broadcast theta-join over the " +
        "pinned days classifying every pair into " +
        "concordant/discordant/tied in ONE map-only aggregate."),
      "q264_weighted_vote" -> ("Two-pass by design: pass 1 (the q254 " +
        "majority-vote aggregate) collects |LFs| agreement rows to " +
        "the driver as integer-ppm weights — broadcast-state regime — " +
        "so the plan below is pass 2 only: the weighted revote " +
        "aggregate with the weights as literals."),
      "q267_ivf_append" -> ("The maintenance half (frozen-codebook " +
        "training, the txn-marked member append, the replay check, " +
        "and the rebuild arm's eagerly-pinned reassignment — the pin " +
        "is load-bearing: left lazy, the argmin expression inlines " +
        "into the join key/diff predicate where codegen does no " +
        "subexpression elimination, measured 25x slower at 100x) " +
        "runs before the returned plan; shown below is the " +
        "serve-and-compare tail — two q138-shaped IVF probes (cell-" +
        "pruned member scans × broadcast query) rank-joined, plus the " +
        "key-sized full-outer assignment diff. Ten-row ranking " +
        "windows are single-partition by design."),
      "q243_chi_square" -> ("Shown with lazyPlan = true: the " +
        "executable form pins the cells aggregate with an eager " +
        "localCheckpoint (the marginal/total/chi branches re-read it), " +
        "which would reduce this dump to a checkpoint scan."),
      "q246_mad_outliers" -> ("The median and MAD are two shared-" +
        "refinement driver loops (q180's shape) over the pinned daily " +
        "aggregate, and the fence constants return as literals, so " +
        "the full query is not one lazy plan; shown below is the " +
        "distributed core — the calendar-bounded day aggregate every " +
        "loop and the final filter scan."),
      "q248_mmr_batch" -> ("The per-query greedy folds over the " +
        "bounded pooled candidates on the driver (q226's contract, " +
        "|queries|·poolN <= 4096), so the full query is not one lazy " +
        "plan; shown below is the distributed stage — ONE corpus scan " +
        "scoring all broadcast queries with the per-qid rank-window " +
        "pool cut (WindowGroupLimit partial heaps)."),
      "q298_lpa_communities" -> ("Dedup-first composition (round " +
        "14): the text-keyed span window + exact collapse pin once " +
        "(persist), the distinct-corpus LPA iterates localCheckpoint-" +
        "pinned supersteps (q296's regime), and the output re-expands " +
        "through the dup mapping with an eager pin before the cache " +
        "releases — shown below is the final expanded/ordered read of " +
        "that pinned result."),
      "q309_ivf_ranking" -> ("The trained quantizer reads from the " +
        "PERSISTED q186 codebook (IndexStore; zero training jobs in " +
        "steady state) and the assigned corpus pins eagerly — the " +
        "stored-IVF-index shape; left lazy, the k-literal argmin " +
        "re-evaluates per candidate row inside the probe joins where " +
        "oversized codegen drops to interpreted mode (measured 40x at " +
        "100x). Shown below is the serving tail: broadcast probe " +
        "join, cell-pruned scoring, and the literal-discount metric " +
        "aggregate."),
      "q310_fh_logrank" -> ("The pooled-KM weight table is the q227 " +
        "driver recurrence (calendar-bounded literals); shown below " +
        "is the distributed core — the arm risk table (one reverse " +
        "cumsum over the span-state lifetimes) joined to the literal " +
        "weights into the weighted-moment aggregate."),
      "q311_survival_state" -> ("The KM readout folds the merged " +
        "span state's calendar-bounded histogram on the driver " +
        "(q227's contract), so the returned frame is driver " +
        "literals; shown below is the distributed stage — the two " +
        "batch span states merged per user."),
      "q312_mann_kendall" -> ("The daily cents aggregate pins " +
        "eagerly (three consumers: pair join, tie histogram, count); " +
        "shown below is the plan over that pinned frame — the " +
        "calendar-bounded broadcast pair join folding into the 1-row " +
        "sign sum plus the tie/variance algebra."),
      "q316_hits_capped" -> ("q296's iterative superstep regime " +
        "over the PRUNED edge set (in-degree top-K broadcast " +
        "semi-join runs before the loop); the dump below is the " +
        "final join of the converged authority/hub checkpoints."),
      "q321_personalized_pagerank" -> ("q153's iterative superstep " +
        "regime with a seeded teleport table (one broadcast semi-join " +
        "at init); the dump below is the FINAL superstep's read of " +
        "the converged checkpoint."),
      "q250_dup_kcore" -> ("The peel iterates to a fixpoint " +
        "(fail-fast within maxRounds, each round localCheckpoint'd " +
        "like a PageRank superstep), so the full query is not one " +
        "lazy plan; shown below is ONE peel round — the degree " +
        "aggregate + the two semi-joins of the shrinking edge set."))
    val out = new StringBuilder
    out.append("# EXPLAIN — physical plans of every oracled query\n\n")
    out.append("Generated by `graft.Explain` (explain format: formatted; " +
      s"input: $sfDir). Inclusion rule (round 16): EVERY " +
      "`SparkEntry.queries` entry appears, in numeric order — the list " +
      "is derived from the query map, never hand-maintained. Queries " +
      "whose full execution is not one lazy plan (maintenance writes, " +
      "driver-loop compositions) show their constituent plan with a " +
      "note saying what the dump covers. What to look for: " +
      "`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` on " +
      "dimension joins, `TakeOrderedAndProject` for top-k, exchanges " +
      "only at semantic shuffle points.\n")
    headline.foreach { name =>
      // q38's executable form materializes eagerly (cache-release
      // contract), which would reduce its "plan" to a checkpoint scan —
      // show the LAZY plan variant, which is what actually executes
      val df = name match {
        case "q38_jaccard_pairs" => graft.operators.Dedup
          .jaccardPairsLazy(Tables.documents(spark, sfDir), 0.8)
        case "q110_incr_dedup" =>
          // the INDEXED form is what q110 executes: existing side scanned
          // from the persisted shingle index, only the batch is shingled
          val docs = Tables.documents(spark, sfDir)
          val existing = docs.filter(
            org.apache.spark.sql.functions.expr("doc_id % 5 != 0"))
          val idx = graft.sources.IndexStore.ensure(spark,
            graft.queries.NorthStar.shingleIndexDir(sfDir),
            graft.sources.IndexStore.sourceFingerprint(
              s"$sfDir/documents.parquet",
              "existing=doc_id%5!=0", "shingle=word-trigram-xxhash64")) {
            graft.operators.Dedup.shingleArrays(existing)
          }
          graft.operators.Dedup.dropIncomingDuplicatesIndexed(idx,
            existing,
            docs.filter(org.apache.spark.sql.functions.expr("doc_id % 5 = 0")),
            0.8, lazyPlan = true)
        case "q117_containment" => graft.operators.Dedup
          .containmentPairsLazy(Tables.documents(spark, sfDir), 0.9)
        case "q118_vocab_coverage" =>
          graft.queries.NorthStar.vocabCoverageLazy(spark, sfDir)
        // the executable forms pin their results (localCheckpoint),
        // which would reduce the dump to a checkpoint scan — show the
        // LAZY plans, which are what actually executes below the pin
        case "q172_source_overlap" => graft.operators.Dedup
          .sourceOverlapExactLazy(Tables.documents(spark, sfDir), 8)
        case "q173_dedup_evidence" => graft.operators.Dedup
          .dedupEvidenceLazy(Tables.documents(spark, sfDir), 0.5)
        case "q174_lexical_cosine" => graft.operators.TextAnalysis
          .lexicalCosinePairs(Tables.documents(spark, sfDir), 10, 0.6, 50,
            lazyPlan = true)
        case "q175_curriculum" => {
          import org.apache.spark.sql.functions._
          val toks = split(col("text"), " ")
          graft.operators.Curation.curriculumBuckets(
            Tables.documents(spark, sfDir),
            round(size(array_distinct(toks)).cast("double") / size(toks)
              * lit(1e6)), 10, lazyPlan = true)
        }
        case "q180_exact_quantiles" => {
          // the driver walk is O(fanout·|qs|) rows; the plan that does
          // the work is the per-round histogram — shown for a round-2
          // shaped spec (range-pruned scan + map-side partial count)
          import org.apache.spark.sql.functions._
          import spark.implicits._
          val vals = Tables.lineitem(spark, sfDir)
            .select(round(col("l_extendedprice") * 100, 0)
              .cast("long").as("v"))
          graft.operators.Profiling.quantileHistRound(vals,
            Seq((0, 30088L, 9000000L, 9100000L, 391L))
              .toDF("qid", "k", "lo", "hi", "width"))
        }
        case "q190_stored_quantiles" =>
          // round-2-shaped spec on the STORED o_custkey column: the
          // literal ranges appear as PushedFilters on the parquet scan
          // (GreaterThanOrEqual/LessThanOrEqual) — row-group stats
          // pruning is live from round 2 on
          graft.operators.Profiling.quantileHistRoundStored(
            Tables.orders(spark, sfDir), "o_custkey",
            Seq((0, 38L, 70L, 80L, 1L), (1, 2L, 130L, 140L, 1L)))
        case "q205_funnel_timing" =>
          // driver-loop composition: the full query is ONE stats
          // aggregate + a shared median refinement, its result frame
          // driver-side literals — dump the stats aggregate (the
          // non-median final pass; the refinement rounds share q180's
          // histogram shape)
          val times = graft.operators.Behavior.stageTimesSinglePass(
            Tables.events(spark, sfDir), "user_id", "ts", "event_type",
            Seq("signup", "view", "purchase"))
          graft.operators.Behavior.transitionStatsAgg(
            graft.operators.Behavior.transitionDurations(times, 2), 2)
        case "q214_engagement_gini" =>
          // LAZY variant: the executable form pins the levels frame
          // (eager localCheckpoint), which would reduce the dump to a
          // checkpoint scan
          graft.operators.Behavior.engagementConcentration(
            Tables.events(spark, sfDir), "user_id", Seq(1, 10, 50),
            lazyPlan = true)
        case "q215_lang_source_mi" =>
          // LAZY variant (same checkpoint-pin reason as q214)
          graft.operators.Profiling.mutualInformation(
            Tables.documents(spark, sfDir), "lang", "source",
            lazyPlan = true)
        case "q221_event_flow" =>
          // LAZY variant (executable form pins the tiny pairs frame)
          graft.operators.Behavior.eventTransitions(
            Tables.events(spark, sfDir), "user_id", "ts", "event_id",
            "event_type", lazyPlan = true)
        case "q220_group_quantiles" =>
          import org.apache.spark.sql.functions._
          val ev = Tables.events(spark, sfDir)
            .select(col("event_type"),
              round(col("value") * 100, 0).cast("long").as("cents"))
          val wide = ev.select(
            when(col("event_type") === "view", col("cents")).as("__g0"),
            when(col("event_type") === "purchase", col("cents"))
              .as("__g1"))
          wide.agg(count(col("__g0")), min(col("__g0")), max(col("__g0")),
            count(col("__g1")), min(col("__g1")), max(col("__g1")))
        case "q222_gap_quantiles" =>
          import org.apache.spark.sql.functions._
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          Tables.events(spark, sfDir)
            .select(col("user_id"), col("ts"), col("event_id"))
            .withColumn("prev_t", lag(col("ts"), 1).over(w))
            .filter(col("prev_t").isNotNull)
            .select(expr(
              "(unix_micros(ts) - unix_micros(prev_t)) div 1000000")
              .as("gap_sec"))
        case "q208_equi_hist" =>
          // boundary probe = q190's stored-column refinement; the
          // final pass shown here buckets every row with a LITERAL
          // when-chain (codegen'd, no join) — representative bounds
          graft.operators.Profiling.histogramFill(
            Tables.lineitem(spark, sfDir), "l_partkey",
            Seq(25L, 50L, 75L, 100L, 125L, 150L, 175L))
        case "q226_mmr_rerank" => graft.operators.Similarity
          .mmrPoolLazy(Tables.embeddings(spark, sfDir), 0L, 20)
        case "q227_churn_survival" => graft.operators.Behavior
          .survivalLifetimesLazy(Tables.events(spark, sfDir),
            "user_id", "ts", 14)
        case "q228_theil_sen" => {
          import org.apache.spark.sql.functions._
          val daily = Tables.orders(spark, sfDir)
            .select(floor(unix_timestamp(col("o_orderdate")) / 86400)
              .cast("long").as("d"),
              round(col("o_totalprice") * 100, 0).cast("long")
                .as("cents"))
            .groupBy(col("d")).agg(sum(col("cents")).as("c"))
          daily.select(col("d").as("da"), col("c").as("ca"))
            .join(daily.select(col("d").as("db"), col("c").as("cb")),
              col("da") < col("db"))
            .select(expr("cast(cast(cb - ca as decimal(38,0)) *" +
              " 1000000 div (db - da) as bigint)").as("slope_micro"))
        }
        case "q243_chi_square" => graft.operators.Profiling
          .chiSquareIndependence(Tables.documents(spark, sfDir),
            "lang", "source", lazyPlan = true)
        case "q250_dup_kcore" => {
          import org.apache.spark.sql.functions._
          // one peel round over the J >= 0.5 edge set (lazy form)
          val e = graft.operators.Dedup
            .jaccardPairsLazy(Tables.documents(spark, sfDir), 0.5)
            .select(col("doc_a").as("a"), col("doc_b").as("b"))
          val keep = e.select(col("a").as("n"))
            .unionAll(e.select(col("b").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 2).select(col("n"))
          e.join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        }
        case "q248_mmr_batch" => {
          import org.apache.spark.sql.functions._
          val emb = Tables.embeddings(spark, sfDir)
          graft.operators.Similarity.mmrBatchPoolLazy(emb,
            emb.filter(col("vec_id") < 2), 10)
        }
        case "q246_mad_outliers" => {
          import org.apache.spark.sql.functions._
          Tables.orders(spark, sfDir)
            .select(floor(unix_timestamp(col("o_orderdate")) / 86400)
              .cast("long").as("d"),
              round(col("o_totalprice") * 100, 0).cast("long")
                .as("cents"))
            .groupBy(col("d")).agg(sum(col("cents")).as("cents"))
        }
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      notes.get(name).foreach(n => out.append(s"\n## $name\n\n$n\n"))
      if (!notes.contains(name)) out.append(s"\n## $name\n")
      out.append(s"\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), out.toString)
    println(s"wrote EXPLAIN.md (${headline.size} plans)")
    spark.stop()
  }
}
