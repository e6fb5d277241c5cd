package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators over edge tables (complementing the min-label
  * connected components in [[Dedup.connectedComponents]]): iterative
  * rank propagation in the Pregel/GraphX shape — broadcast-free,
  * one co-partitioned join per superstep — but expressed on DataFrames
  * so Catalyst/AQE keep owning the physical plan. */
object Graph {

  /** PageRank in integer MICRO-units — damping 0.85, every step exact
    * 64-bit arithmetic: ranks start at 1_000_000, a node sends
    * `r div outdeg` to each out-neighbor (integer division), and the
    * update is `150_000 + (850_000 · Σin) div 1_000_000`. No floating
    * point anywhere, so any engine (and any partitioning) replays the
    * exact ranks — the same reproducibility contract as the hash
    * samplers in [[Curation]]. Dangling nodes keep their mass (the
    * simplified non-normalized variant; ranks are scores, not a
    * probability distribution — what ranking consumers actually use).
    *
    * Scale shape: the edge table is hash-partitioned on `src` ONCE
    * (localCheckpoint preserves the partitioning), so each of the
    * `iters` supersteps (1) joins the narrow rank table to edges on
    * `src` shuffling only the rank side — node-sized, never the edges —
    * and (2) partial-aggregates the contributions on `dst` (map-side
    * combine cuts that shuffle to one row per (partition, dst)). Edges
    * are never driver-collected and never re-shuffled; rank state is
    * one narrow (node, long) row per node, localCheckpoint'd per
    * superstep so the plan stays O(1) deep. Rank/outdeg tables are
    * node-cardinality, so they are deliberately NOT broadcast — at
    * graph scale they don't fit; the co-partitioned shuffle join is
    * the honest plan.
    * Overflow headroom: 850_000 · Σin stays under 2⁶³ while the graph's
    * total in-mass per node is below ~10¹³ micro-units (≈10⁷ full-rank
    * in-neighbors); beyond that, drop the micro scale a decade.
    *
    * Input: a directed edge table; duplicate edges are collapsed.
    * Output: (node, r) final micro-ranks for every node. */
  def pageRankMicro(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = Pin.scope {
    require(iters >= 1, s"iters=$iters")
    val e = Pin(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .repartition(col("src")))
    // node state (node, outdeg) pinned ONCE: the former per-superstep
    // plan re-evaluated the lazy union+distinct node list AND the
    // outdeg aggregate on every iteration (iters+1 node scans, iters
    // degree aggregates over the pinned edges — measured round 17, a
    // third of q153's jobs); outdeg rides in the rank state instead,
    // so each superstep is exactly one edge join + one node-sized
    // left join. `sending` keeps the original inner-join semantics
    // via the outdeg-NOT-NULL filter. Arithmetic is unchanged.
    val nd = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")), Seq("node"), "left"))
    val gen = Pin.loop()
    var rank = nd.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      // only nodes with out-edges send mass (outdeg IS NULL = dangling);
      // the hash-join hint keeps the co-partitioned edge side sort-free
      // (the node-sized sending table is the build side)
      val sending = rank.filter(col("outdeg").isNotNull)
        .select(col("node").as("src"), expr("r div outdeg").as("c"))
      val contrib = e.join(sending.hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
      rank = gen(nd.join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"), (lit(150000L) +
          expr("(850000 * coalesce(s, 0L)) div 1000000")).as("r")))
    }
    rank.select(col("node"), col("r"))
  }

  /** PERSONALIZED PAGERANK in integer MICRO-units — [[pageRankMicro]]
    * with the teleport mass directed at a SEED SET instead of spread
    * uniformly (Page et al. 1999 §6; the "related to THESE nodes"
    * serving form behind people-also-bought / similar-suppliers):
    * seeds restart with 150000·N div |S| micro each (total teleport
    * mass preserved vs the uniform form, so magnitudes stay
    * comparable), non-seeds restart with 0, and the damped walk
    * spreads relevance outward. Same exact-integer regime as
    * [[pageRankMicro]]: init = the teleport distribution, per-step
    * r = tele + (850000·Σ in-contrib) div 10⁶, every division
    * truncating on non-negatives — engine-replayable CTE-by-CTE.
    * Seeds arrive as a DataFrame (`node` column) — the realistic
    * serving shape (a segment, a watchlist), broadcast as a flag
    * onto the node table; seeds without an edge are ignored (they
    * are not in the graph).
    *
    * Scale shape: [[pageRankMicro]]'s exactly — edges pinned
    * partitioned on src once, supersteps shuffle only node-sized
    * frames; the seed flag is one broadcast semi-join at init. */
  def personalizedPageRankMicro(edges: DataFrame, seeds: DataFrame,
      iters: Int, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = Pin.scope {
    require(iters >= 1, s"iters=$iters")
    val e = Pin(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .repartition(col("src")))
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
    val nodes = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(broadcast(sd.withColumn("seed", lit(1))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("seed"), lit(0)).as("seed")))
    val stats = nodes.agg(count(lit(1)).as("n_nodes"),
      sum(col("seed")).cast("long").as("n_seeds"))
    require(stats.collect()(0).getLong(1) > 0,
      "personalizedPageRankMicro: no seed appears in the graph")
    // (node, tele, r0, outdeg) pinned ONCE — outdeg rides in the node
    // state so each superstep is one edge join + one node-sized left
    // join (the [[pageRankMicro]] round-17 restructure: the former
    // lazy outdeg aggregate re-ran per iteration)
    val withTele = Pin(nodes.crossJoin(broadcast(stats))
      .select(col("node"),
        when(col("seed") === 1,
          expr("150000L * n_nodes div n_seeds")).otherwise(0L)
          .as("tele"),
        when(col("seed") === 1,
          expr("1000000L * n_nodes div n_seeds")).otherwise(0L)
          .as("r0"))
      .join(e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")), Seq("node"), "left"))
    val gen = Pin.loop()
    // init = the teleport distribution scaled to full rank mass
    var rank = withTele.select(col("node"), col("outdeg"),
      col("r0").as("r"))
    for (_ <- 1 to iters) {
      val sending = rank.filter(col("outdeg").isNotNull)
        .select(col("node").as("src"), expr("r div outdeg").as("c"))
      val contrib = e.join(sending.hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
      rank = gen(withTele.join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"), (col("tele") +
          expr("(850000 * coalesce(s, 0L)) div 1000000")).as("r")))
    }
    rank.select(col("node"), col("r"))
  }

  /** HITS hubs & authorities in integer MICRO-units — Kleinberg's
    * mutual-reinforcement pair beside [[pageRankMicro]]'s single rank:
    * an authority is pointed at by good hubs, a hub points at good
    * authorities. Every half-step is exact 64-bit arithmetic: raw
    * scores are plain sums over edges, then renormalized to
    * `s·10⁶ div max(s)` (the max is the integer norm — a 1-row
    * broadcast, never a driver collect), so the best authority/hub
    * reads exactly 10⁶ and everything is engine-replayable with no
    * float and no overflow (raw ≤ 10⁶·max-degree; ·10⁶ stays far
    * under 2⁶³ below ~10⁶ in-neighbors).
    *
    * Scale shape: the edge table is materialized TWICE, hash-
    * partitioned on src and on dst once each (localCheckpoint pins
    * the partitioning), so each of the `iters` supersteps runs two
    * co-partitioned joins that shuffle only the node-sized score
    * table — edges never move again; the RAW score sums localCheckpoint
    * per half-step (one node-sized pin feeding both the 1-row max
    * broadcast and the normalized projection) to keep the plan O(1)
    * deep (the [[pageRankMicro]] regime) and to run each edge-sized
    * join exactly once. Nodes with no in-edges (resp. out-edges)
    * score 0.
    *
    * Output: (node, authority_micro, hub_micro) for every node. */
  def hitsMicro(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = Pin.scope {
    require(iters >= 1, s"iters=$iters")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val eBySrc = Pin(e0.repartition(col("src")))
    val eByDst = Pin(eBySrc.repartition(col("dst")))
    val nodes = Pin(eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct())
    // raw sums → the integer norm: s·10⁶ div max(s). The RAW frame is
    // pinned and BOTH consumers (the 1-row max broadcast and the score
    // projection) read the pin — the former shape fed `raw` lazily to
    // both, so every half-step ran its edge-sized join+aggregate TWICE
    // (once for the broadcast subquery, once under the nodes join —
    // measured round 17: 8 edge joins for iters=2 where 4 are owed).
    // Nodes absent from `raw` (no in-/out-edges this half-step) carry
    // no row now instead of an explicit 0 — arithmetically identical
    // downstream (a 0 contributes nothing to the next sum, and max
    // ignores it); the FINAL readout restores them as 0 via one left
    // join, so the output is row-identical to the old form.
    // the authority and hub raw sums are one generation chain each
    val (authGen, hubGen) = (Pin.loop(), Pin.loop())
    def normalized(raw: DataFrame, out: String,
        gen: DataFrame => DataFrame): DataFrame = {
      val r = gen(raw)
      r.crossJoin(broadcast(r.agg(max(col("s")).as("mx"))))
        .select(col("node"),
          coalesce(expr("cast(s as decimal(38,0)) " +
            "* 1000000 div nullif(mx, 0)"), lit(0L)).as(out))
    }
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      auth = normalized(
        eBySrc.join(hub.withColumnRenamed("node", "src")
            .hint("SHUFFLE_HASH"), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s")),
        "a", authGen)
      hub = normalized(
        eByDst.join(auth.withColumnRenamed("node", "dst")
            .hint("SHUFFLE_HASH"), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("s")),
        "h", hubGen)
    }
    nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("a"), lit(0L)).as("authority_micro"),
        coalesce(col("h"), lit(0L)).as("hub_micro"))
  }

  /** DEGREE-CAPPED HITS — [[hitsMicro]] restricted to the edges into
    * the `topK` highest in-degree authorities (count DESC, node ASC —
    * a total order). NOT the serving default (round 16): use
    * [[hitsAuthoritiesRefined]] (q326), which is VALUE-IDENTICAL to
    * the full 2-iteration [[hitsMicro]] top-K at the same measured
    * cost (18.3 s vs 19.6 s at 100×) — this capped form is kept as
    * the measured-drift LESSON row (q316): a first-iterate prune is
    * the obvious serving trade and its top-K membership drifts at
    * scale, which round 15 measured at three SFs. The full HITS
    * is edge-linear and the measured heaviest SCALING row (78.6 s at
    * 100× with hot authorities) precisely because every edge
    * participates in every superstep; but the readout anyone serves
    * is "the top authorities and who points at them", and restricting
    * to the top-K in-degree candidate set BEFORE iterating bounds the
    * superstep edge frame by the candidates' in-mass instead of the
    * whole graph. The cap is a heuristic prune (an authority outside
    * the in-degree top-K cannot surface — in-degree is HITS'
    * iteration-0 authority score, so this is "prune by the first
    * iterate", the standard serving trade); scores renormalize within
    * the kept subgraph. MEASURED drift (round 15, three scales):
    * top-10 authority SET overlap with the full-graph ranking is
    * 8/10 at sf0.01 but 6/10 at BOTH sf0.1 and the 10× ScaleGen
    * slice — the in-degree top-10 misses 4 of the true top-10 there,
    * and the supplier graph's authority plateau (ranks 9–16 within
    * 0.5% of each other) reorders the k-boundary under any hub-score
    * distortion (overfetching candidates to 8× barely moves it:
    * 7/10). The served set is still near-indistinguishable in
    * QUALITY — its worst member carries 98.8% of the full #10 score
    * at both scales — but for exact top-K membership use
    * [[hitsAuthoritiesRefined]] (round 15): for the shipped
    * 2-iteration depth it is value-identical to [[hitsMicro]]'s
    * top-K (measured 10/10 at sf0.1 and 10×) at lower cost.
    *
    * Scale shape: one edge-sized in-degree aggregate, a K-row
    * TakeOrderedAndProject broadcast, the semi-join prune, then
    * [[hitsMicro]] over the reduced frame. */
  def hitsTopAuthorities(edges: DataFrame, topK: Int, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val top = e0.groupBy(col("dst")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("dst")).limit(topK)
      .select(col("dst"))
    hitsMicro(e0.join(broadcast(top), "dst"), iters)
  }

  /** TWO-ROUND REFINED authority serving (round 15; closes the q316
    * drift finding) — EXACT top-K authorities of 2-iteration
    * [[hitsMicro]] without iterating the graph. The first-iterate
    * prune ([[hitsTopAuthorities]]) was measured at 6/10 top-10 set
    * overlap at sf0.1 AND the 10× slice: the in-degree top-10 misses
    * 4 of the true top-10, and the synthetic supplier graph's
    * authority plateau (ranks 9–16 within 0.5%) makes the k-boundary
    * reorder under ANY hub-score distortion (the capped answer's
    * worst member still carries 98.8% of the full #10 score — set
    * overlap is the ill-conditioned lens, but candidate misses are
    * real). The refinement exploits that the 2-iteration authority
    * has a CLOSED two-round form: a₂(v) = Σ_{h→v} h₁(h) where
    * h₁(h) = Σ_{h→w} a₁(w) and a₁ = normalized in-degree — so
    *
    *   round 1: global a₁ (one edge-sized count) and global h₁ (one
    *            edge-sized join+sum) — NO candidate restriction, so
    *            hub scores carry their full out-neighborhoods;
    *   round 2: exact a₂ for the top (overfetch·K) in-degree
    *            candidates only (one candidate-bounded join+sum).
    *
    * Every normalization replays [[hitsMicro]]'s integer chain
    * (s·10⁶ div max), so when the candidate pool covers the true
    * top-K and the rank-1 authority (measured: overfetch 4 covers
    * 10/10 at sf0.1 and 10×; in-degree IS a₁, so the rank-1 node is
    * always a candidate), the served rows are VALUE-IDENTICAL to
    * full [[hitsMicro]]'s top-K — spec-pinned, and oracle-replayed
    * in q326 with no recursive CTE.
    *
    * Scale shape: two edge-sized aggregates + one candidate-bounded
    * join — strictly less work than ONE full HITS superstep pair
    * (which pays the same two edge joins PLUS normalization rounds
    * and a second iteration); no loop, no localCheckpoint chain. */
  def hitsAuthoritiesRefined(edges: DataFrame, topK: Int,
      overfetch: Int = 4, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    require(overfetch >= 1, s"overfetch=$overfetch")
    // the edge set is NEVER materialized (hitsMicro's pinned eBySrc/
    // eByDst checkpoints are what make the full form pay ~70 of its
    // 78.6 s at 100× — measured round 15): each round is ONE
    // streaming pass whose distinct-pair dedupe lives inside the
    // pass's own shuffle, and only the node-/hub-/candidate-sized
    // RESULTS pin (they are each consumed twice — rows + max for the
    // normalization — and an unpinned result re-executes its
    // edge-sized pass multiplicatively: 45 s vs 17 s at 100×).
    val pairs = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // indeg over DISTINCT edges without a distinct pass: per-dst
    // count of distinct srcs (map-side partial dedupe)
    refinedTail(pairs, pairs.groupBy(col("dst").as("node"))
      .agg(countDistinct(col("src")).as("c")), distinctPairs = false, topK,
      overfetch)
  }

  /** [[hitsAuthoritiesRefined]] over an ALREADY-DISTINCT edge table —
    * the [[graft.streaming.EdgeStateStream]]-MAINTAINED (src, dst, n)
    * state read straight into serving (round 16, STATUS r15 #4): the
    * raw-log distinct-pair shuffles that are most of q326's cost at
    * 100× are PRE-PAID by the stream (O(batch) per micro-batch), so
    * every serving call starts from the key-sized graph, not the
    * fact log. Distinctness is the state table's merge invariant
    * (one row per (src, dst)), so the in-pass dedupes drop out and
    * the readout is value-identical to [[hitsAuthoritiesRefined]]
    * over the raw log — spec-pinned through a real MemoryStream.
    *
    * Scale shape: two |E_distinct|-sized joins + one candidate-bounded
    * join over an already-aggregated parquet table; no distinct
    * passes, no log scan. */
  def hitsAuthoritiesRefinedFromEdges(edges: DataFrame, topK: Int,
      overfetch: Int = 4, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    require(overfetch >= 1, s"overfetch=$overfetch")
    val pairs = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // rows are distinct by the state contract: indeg is a plain count
    refinedTail(pairs, pairs.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("c")), distinctPairs = true, topK, overfetch)
  }

  /** Shared two-round tail of [[hitsAuthoritiesRefined]] /
    * [[hitsAuthoritiesRefinedFromEdges]]: global a₁ from the pinned
    * in-degree frame, global h₁ over the (dedup-as-needed) edge
    * pairs, exact a₂ over the overfetched candidate pool. */
  private def refinedTail(pairs: DataFrame, indegPlan: DataFrame,
      distinctPairs: Boolean, topK: Int, overfetch: Int): DataFrame =
      Pin.scope {
    val indeg = Pin(indegPlan)
    def dedup(df: DataFrame): DataFrame =
      if (distinctPairs) df else df.distinct()
    // a1 = hitsMicro's first authority iterate: normalized in-degree
    // (the 10^6-scaled hub seed cancels through the div chain)
    val a1 = indeg
      .crossJoin(broadcast(indeg.agg(max(col("c")).as("mx"))))
      .select(col("node"),
        expr("cast(c as decimal(38,0)) * 1000000 div nullif(mx, 0)")
          .as("a"))
    // h1 = each hub's full-out-neighborhood sum of a1, normalized —
    // computed over the WHOLE edge set (the step the first-iterate
    // prune distorted); a1 is authority-sized — AQE broadcasts it
    // when small, shuffles when not (no hint on purpose)
    val h1raw = Pin(dedup(pairs)
      .join(a1.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src")).agg(sum(col("a")).as("s")))
    val h1 = h1raw
      .crossJoin(broadcast(h1raw.agg(max(col("s")).as("mx"))))
      .select(col("src"),
        expr("cast(s as decimal(38,0)) * 1000000 div nullif(mx, 0)")
          .as("h"))
    val cand = indeg.orderBy(col("c").desc, col("node"))
      .limit(topK * overfetch).select(col("node").as("dst"))
    val a2raw = Pin(dedup(pairs.join(broadcast(cand), "dst"))
      .join(h1.hint("SHUFFLE_HASH"), "src")
      .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s")))
    a2raw
      .crossJoin(broadcast(a2raw.agg(max(col("s")).as("mx"))))
      .select(col("node"),
        expr("cast(cast(s as decimal(38,0)) * 1000000 " +
          "div nullif(mx, 0) as bigint)").as("authority_micro"))
      .orderBy(col("authority_micro").desc, col("node")).limit(topK)
  }

  /** LABEL PROPAGATION communities — synchronous LPA (Raghavan 2007)
    * made ENGINE-DETERMINISTIC: every node starts as its own label,
    * and each of the `iters` supersteps reassigns every node the
    * SMALLEST label among its neighbors' most-frequent labels
    * (count DESC, label ASC — a total order, so any engine replays
    * the same communities; vanilla LPA's random tiebreak is the
    * one thing this deliberately replaces). Where
    * [[Dedup.connectedComponents]] merges everything reachable, LPA
    * splits a component along its DENSITY structure — two cliques
    * joined by one bridge edge keep separate labels — so it is the
    * community view of the near-dup graph, not the reachability view.
    * Fixed iteration count (no convergence test): the oracle unrolls
    * exactly `iters` rounds.
    *
    * Scale shape: the symmetrized edge table is hash-partitioned on
    * the neighbor key ONCE (localCheckpoint pins it); each superstep
    * joins it to the node-sized label frame (SHUFFLE_HASH — labels
    * move, edges don't), counts (node, label) votes with map-side
    * combine, and picks per node with ONE hash aggregate
    * (min_by over the (−count, label) struct ≡ count DESC, label ASC
    * — round 17: the former row_number window sorted every node's
    * vote list just to read its first row; a hash agg needs no sort
    * and keeps map-side partials); label state localCheckpoints per
    * round ([[pageRankMicro]]'s O(1)-deep plan regime).
    *
    * Output: (node, community, n_members) for every node with an
    * edge. */
  def labelPropagation(edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = Pin.scope {
    require(iters >= 1, s"iters=$iters")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).filter(col("a") =!= col("b"))
    val nb = Pin(e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .select(col("a").as("v"), col("b").as("u"))
      .repartition(col("u")))
    val gen = Pin.loop()
    var lbl = gen(nb.select(col("v").as("node")).distinct()
      .withColumn("lbl", col("node")))
    for (_ <- 1 to iters) {
      val votes = nb
        .join(lbl.withColumnRenamed("node", "u").hint("SHUFFLE_HASH"),
          "u")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      // (count DESC, label ASC) as min_by over (−c, lbl): −c is safe
      // (counts ≥ 1), and tied keys imply the same lbl — deterministic,
      // value-identical to the former rank-1 window row
      lbl = gen(votes.groupBy(col("v"))
        .agg(min_by(col("lbl"),
          struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
        .select(col("v").as("node"), col("lbl")))
    }
    lbl.join(lbl.groupBy(col("lbl")).agg(count(lit(1)).as("n_members")),
        "lbl")
      .select(col("node"), col("lbl").as("community"), col("n_members"))
  }

  /** Exact TRIANGLE COUNT + global clustering coefficient of an
    * undirected edge table — the cluster-density diagnostic for the
    * near-dup graph ([[Dedup.jaccardPairs]] edges): duplicate FAMILIES
    * are near-cliques (many triangles, clustering → 1), while chained
    * false-positive merges are near-trees (few triangles) — so this
    * one row says whether [[Dedup.connectedComponents]] clusters are
    * dense dup families or accidental chains.
    *
    * Plan (Suri–Vassilvitskii 2011, "the curse of the last reducer"):
    * edges canonicalize to (a < b) and ORIENT toward the
    * (degree, id)-larger endpoint, so every wedge is enumerated at its
    * LOWEST-degree vertex — per-vertex fan-out is min-degree-bounded
    * (Σ oriented-out-deg² = O(m^{3/2}) worst case), never hub-degree²;
    * a closing edge is then one hash-join probe because the wedge's
    * (y1, y2) pair is emitted in the same (degree, id) order the
    * orientation uses. All key-sized shuffles; counts are exact
    * integers. n_wedges counts ALL unordered neighbor pairs
    * (Σ deg·(deg−1)/2, from the degree table alone); clustering_ppm =
    * 3·triangles·10⁶ div wedges (0 when wedge-free). Self-loops and
    * duplicate/reversed edges are collapsed first. */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val totals = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    // orient a→b iff (deg_a, a) < (deg_b, b); carry the endpoint's
    // (deg, id) so the wedge join can order neighbor pairs identically
    val o = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("x"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("db").as("d"), col("b").as("v")))
          .otherwise(struct(col("da").as("d"), col("a").as("v")))
          .as("y"))
    val wedges = o.as("o1").join(o.as("o2"), "x")
      .filter(col("o1.y") < col("o2.y"))
      .select(col("o1.y.v").as("y1"), col("o2.y.v").as("y2"))
    val closing = o.select(col("x").as("y1"), col("y.v").as("y2"))
    val triCount = wedges.join(closing, Seq("y1", "y2"))
      .agg(count(lit(1)).as("n_triangles"))
    totals.crossJoin(broadcast(triCount))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          expr("3 * n_triangles * 1000000 div n_wedges"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** PER-NODE LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz, Nature
    * 1998) — [[triangleStats]]'s global density broken out per node:
    * cc_v = 2·t_v / (deg_v·(deg_v − 1)) with t_v the triangles
    * through v, in exact integer ppm. On the near-dup graph this is
    * the per-document "is my neighborhood a clique or a chain"
    * screen: a doc with high degree but low cc is a HUB STITCHING
    * UNRELATED families together (the false-positive merge signature
    * [[triangleStats]] can only see in aggregate), exactly the rows
    * a dedup audit wants listed. Top `topN` by (cc desc, deg desc,
    * node) over nodes with deg ≥ `minDeg` — a total order.
    *
    * Scale shape: [[triangleStats]]'s degree-oriented wedge join
    * (each wedge enumerated at its LOWER-(deg, id) endpoint — the
    * standard high-degree-hub bound) with the closing-edge join
    * exploding each triangle to its three corners; per-node counts
    * are a corner-sized aggregate, and the cut is one
    * TakeOrderedAndProject. */
  def localClustering(edges: DataFrame, minDeg: Int = 2,
      topN: Int = 25, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(minDeg >= 2 && topN >= 1, s"minDeg=$minDeg topN=$topN")
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val o = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("x"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("db").as("d"), col("b").as("v")))
          .otherwise(struct(col("da").as("d"), col("a").as("v")))
          .as("y"))
    val wedges = o.as("o1").join(o.as("o2"), "x")
      .filter(col("o1.y") < col("o2.y"))
      .select(col("x"), col("o1.y.v").as("y1"), col("o2.y.v").as("y2"))
    val closing = o.select(col("x").as("y1"), col("y.v").as("y2"))
    val tc = wedges.join(closing, Seq("y1", "y2"))
      .select(explode(array(col("x"), col("y1"), col("y2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    deg.filter(col("deg") >= minDeg)
      .join(tc, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("t"), lit(0L)).as("n_triangles"), col("deg"),
        expr("cast(cast(coalesce(t, 0L) as decimal(38,0)) * 2000000" +
          " div (cast(deg as decimal(38,0)) * (deg - 1)) as bigint)")
          .as("cc_ppm"))
      .orderBy(col("cc_ppm").desc, col("deg").desc, col("node"))
      .limit(topN)
  }

  /** EDGE EMBEDDEDNESS / BRIDGE SCREEN (Granovetter's weak ties,
    * AJS 1973; embeddedness = common-neighbor count per edge = the
    * triangles through it) — the EDGE-level companion of
    * [[localClustering]]'s node view: on the near-dup graph, an edge
    * with ZERO common neighbors joining two high-degree endpoints is
    * the likeliest FALSE-POSITIVE MERGE (two real families stitched
    * by one accidental pair), exactly the edges a dedup audit should
    * re-verify first. Per-edge triangle counts come from the same
    * degree-oriented wedge enumeration as [[triangleStats]], each
    * matched triangle exploding to its THREE edges (kept in canonical
    * a<b form). Output: the `topN` most suspect edges by
    * (embeddedness ASC, deg_a + deg_b DESC, a, b) — a total order —
    * with both endpoint degrees.
    *
    * Scale shape: [[triangleStats]]'s m^{3/2}-bounded wedge join +
    * one edge-keyed aggregate + a TakeOrderedAndProject. Same
    * dedup-first caveat as [[localClustering]]: collapse exact-copy
    * families first or the wedge frame is R² in family width. */
  def edgeEmbeddedness(edges: DataFrame, topN: Int = 25,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(topN >= 1, s"topN=$topN")
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val o = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("x"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("db").as("d"), col("b").as("v")))
          .otherwise(struct(col("da").as("d"), col("a").as("v")))
          .as("y"))
    val wedges = o.as("o1").join(o.as("o2"), "x")
      .filter(col("o1.y") < col("o2.y"))
      .select(col("x"), col("o1.y.v").as("y1"), col("o2.y.v").as("y2"))
    val closing = o.select(col("x").as("y1"), col("y.v").as("y2"))
    // each triangle (x, y1, y2) → its three edges in canonical form
    val emb = wedges.join(closing, Seq("y1", "y2"))
      .select(explode(array(
        struct(least(col("x"), col("y1")).as("a"),
          greatest(col("x"), col("y1")).as("b")),
        struct(least(col("x"), col("y2")).as("a"),
          greatest(col("x"), col("y2")).as("b")),
        struct(least(col("y1"), col("y2")).as("a"),
          greatest(col("y1"), col("y2")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("t"))
    e.join(emb, Seq("a", "b"), "left")
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"),
        coalesce(col("t"), lit(0L)).as("embeddedness"),
        col("deg_a"), col("deg_b"))
      .orderBy(col("embeddedness").asc,
        (col("deg_a") + col("deg_b")).desc, col("a"), col("b"))
      .limit(topN)
  }

  /** DEGREE ASSORTATIVITY (Newman, PRL 89 2002) of an undirected edge
    * set: Pearson correlation of endpoint degrees over directed STUBS
    * (each edge in both orientations — the standard estimator).
    * Positive r: hubs attach to hubs (core-heavy dup families);
    * negative: hubs attach to leaves (star/template shapes) — which of
    * the two a near-dup graph is decides whether cluster-collapse or
    * centroid-pick dedup loses less data. Exactness
    * ([[graft.operators.TimeSeries.autocorrelation]]'s contract): five
    * DECIMAL(38,0) sufficient sums, one final double expression with
    * fixed operand order, rounded 6 dp; NULL when < 2 stubs or either
    * margin is variance-free. Self-loops and duplicate/reversed edges
    * collapse first.
    *
    * Scale shape: degree = one node-key aggregate; the stub frame
    * joins edges×degree twice on node keys (co-partitioned,
    * node-sized); the stats aggregate is ONE row via map-side
    * partials. */
  def degreeAssortativity(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val both = e.unionByName(
      e.select(col("b").as("a"), col("a").as("b")))
    val deg = both.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val xy = both
      .join(deg.select(col("a"), col("deg").as("x")), "a")
      .join(deg.select(col("a").as("b"), col("deg").as("y")), "b")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val ag = xy.agg(count(lit(1)).as("n_stubs"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"))
    def d(name: String) = col(name).cast("double")
    val n = d("n_stubs")
    val num = n * d("sxy") - d("sx") * d("sy")
    val den = sqrt((n * d("sxx") - d("sx") * d("sx")) *
      (n * d("syy") - d("sy") * d("sy")))
    ag.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("n_stubs"),
        when(col("n_stubs") >= 2 && den =!= 0.0,
          round(num / den, 6) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /** K-CORE of an undirected edge set (Seidman 1983): the maximal
    * subgraph where every node keeps degree ≥ k, found by the standard
    * iterative PEEL — drop all nodes under degree k, recompute degrees
    * in what remains, repeat to fixpoint. The density skeleton the
    * triangle census summarizes: on a near-dup graph the 2-core is
    * "documents in at least one duplication CYCLE" (chain ends peel
    * off), which is where cluster-collapse dedup is safe. Returns the
    * surviving nodes with their IN-CORE degree.
    *
    * Determinism/oracle contract: the peel itself is order-free (the
    * fixpoint is unique), but a SQL oracle cannot iterate to an
    * unbounded fixpoint — so the operator takes `maxRounds`, FAILS
    * FAST if the fixpoint is not reached within it (no silent
    * truncation), and the oracle unrolls exactly `maxRounds` peels:
    * converged-in-R Spark output ≡ R-round SQL output. Peel rounds
    * needed are tiny in practice (each round removes whole tree
    * fringes; clique-shaped dup families converge in 1-2).
    *
    * Scale shape: each round is one degree aggregate + two semi-joins
    * of the shrinking edge set on node keys (co-partitioned,
    * node-sized shuffles — [[pageRankMicro]]'s superstep shape), with
    * a localCheckpoint per round to keep the plan O(1) deep; rounds
    * are bounded by `maxRounds`, not data. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 8,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = Pin.scope {
    require(k >= 1 && maxRounds >= 1, s"k=$k maxRounds=$maxRounds")
    val gen = Pin.loop()
    var e = gen(edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct())
    var nEdges = e.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // pinned: both semi-joins consume `keep`, and unpinned each
      // re-ran the degree aggregate over the full edge set (round 17 —
      // one edge-sized pass per round saved; the pin is node-sized)
      val keep = Pin(e.select(col("a").as("n"))
        .unionAll(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("n")))
      val e2 = gen(e
        .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      Pin.release(keep)
      val n2 = e2.count()
      converged = n2 == nEdges
      e = e2; nEdges = n2
    }
    require(converged || nEdges == 0,
      s"k-core peel did not converge within $maxRounds rounds — raise" +
        " maxRounds (the oracle unrolls exactly this many)")
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_deg"))
  }
}
