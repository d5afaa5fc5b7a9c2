package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.exact.scaled

/** Link-graph signals for web-scale curation: PageRank is the standard
  * domain/page authority input to crawl-corpus quality filtering (rank the
  * link graph, keep documents from reputable hosts), alongside the lexical
  * signals in [[Curation]] and [[Web]].
  *
  * Arithmetic convention (same as RRF's nano-units and the LM's micronats):
  * ranks live in integer MICRO-units (1.0 == 1,000,000) and every step is
  * integer multiply / integer divide — contributions `rank div outdeg`,
  * damping `(17 * sum) div 20` (0.85 exactly). Long sums are
  * order-independent, so the whole fixed-point iteration replays
  * bit-for-bit in any engine (the `ns_pagerank` oracle unrolls it in SQL).
  * The rounding the integer divisions introduce is well under the
  * micro-unit resolution anyone thresholds at.
  *
  * Scale shape:
  *   - edges are enriched with out-degree ONCE before the loop; each
  *     iteration is then one join (ranks ⋈ edges on src — both sides
  *     hash-partition on the same key, so consecutive iterations reuse the
  *     partitioning) plus one partial-aggregated sum keyed by dst.
  *   - per-iteration state is one (node, rank) row per node — never
  *     edge-sized; ranks checkpoint (persist + materialize, dropping the
  *     previous checkpoint) every `persistEvery` rounds and at the end,
  *     so lineage stays bounded while paying one materialization job per
  *     `persistEvery` rounds instead of per round.
  *   - dangling nodes (no out-edges) leak their damped mass — the classic
  *     "leaky" simplification; the leak is deterministic so cross-engine
  *     equality still holds. Use the redistribute variant only if absolute
  *     probability mass matters, not ranking order.
  *
  * No counterpart in the reference engine; north-star operator.
  */
object Graph {

  /** Rebuild a PERSISTED-AND-MATERIALIZED frame as a logical leaf over its
    * cached rows. Persisting alone only fixes EXECUTION cost: the logical
    * plan of round N still embeds the full plan of rounds 1..N-1, and a
    * loop body that references a frame twice DOUBLES the tree per round —
    * at iters = 6 the analyzer walks a 2^12-node tree and the driver OOMs
    * before a single task runs (caught by GraphSpec's job-count gate).
    * `createDataFrame(df.rdd, df.schema)` plans `df` once (reading the
    * cache, since `df` is persisted) and wraps the result as a leaf, so
    * every round's plan is O(round body) regardless of iteration count.
    * The caller keeps the original persisted frame for unpersist
    * bookkeeping; the wrapper reads its cache blocks lazily.
    *
    * CALL ONLY ON MATERIALIZED FRAMES: `.rdd` on an AQE plan eagerly
    * materializes every non-result query stage, so on an unmaterialized
    * frame this runs the plan's work immediately — and without populating
    * the cache (the result stage never runs), so the real materialization
    * then repeats it. On a materialized frame the substituted plan is a
    * bare in-memory scan with no stages, and `.rdd` is free.
    * (SCALE.md "Iterative operators".)
    */
  private def truncateLineage(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** The leaky PageRank chain loop ([[pageRank]], [[weightedPageRank]],
    * [[personalizedPageRank]]): `iters` applications of `step` to `start`.
    * Each round references the previous ranks exactly once, so lineage is a
    * chain and batching is safe: only every `persistEvery`-th round and the
    * last persist, materialize with one count, drop the previous window's
    * frame, and leaf-ify for the next window. The result is persisted (the
    * caller owns `unpersist()`), except at iters = 0 where it is `start`.
    */
  private def chainRounds(start: DataFrame, iters: Int, persistEvery: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var ranks = start
    var cur: DataFrame = null
    for (i <- 1 to iters) {
      var next = step(ranks)
      if (i % persistEvery == 0 || i == iters) {
        next = next.persist()
        next.count() // materialize before dropping the previous window
        if (cur != null) cur.unpersist()
        cur = next
        if (i != iters) next = truncateLineage(next)
      }
      ranks = next
    }
    ranks
  }

  /** Integer-exact PageRank over `edges` (one row per directed edge).
    * Returns (node, pr) in micro-units for every node appearing as a src
    * or dst. Parallel edges count as parallel (pre-`distinct` them if not
    * wanted). `iters` fixed-point rounds, damping 0.85, start mass 1.0.
    *
    * `redistributeDangling = true` closes the dangling-mass leak: each
    * round the summed rank of no-out-edge nodes is spread uniformly
    * (integer `div` — the sub-micro-unit remainder, < one micro-unit per
    * node, still leaks deterministically). The share rides as a broadcast
    * one-row aggregate (floor(sum/N) computed plan-side; count(1) over
    * ranks is the node count) and EVERY round persists: at the window
    * boundary's single count, round i's broadcast-share stage finds
    * round i-1 already cached — the previous share stage had to compute
    * it — so the whole window executes each round exactly once inside one
    * job cascade, action-free. The per-round cache is what makes the
    * double reference of `ranks` (contributions + share) safe: without
    * it this exact shape re-executed the base edge join 2^rounds times
    * (round 4's scale-killer), and the per-round-action alternatives
    * measured 5-10× slower than one fused job at sf0.1 (~1 s fixed cost
    * per action that touches the edge cache — SCALE.md "Iterative
    * operators"). Leave it off when only ranking order matters.
    *
    * The returned frame is PERSISTED (it is the loop's final checkpoint —
    * unpersisting it here would force a full recompute on first use). The
    * caller owns `result.unpersist()` once consumed; repeated calls that
    * never unpersist accumulate node-sized cache entries until LRU
    * eviction.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, persistEvery: Int = 4,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(persistEvery > 0, "persistEvery must be positive")
    // persist the raw edge frame first: out-degree, enrichment, and the
    // node set all derive from it — without this the caller's edge
    // construction (often a join + distinct) re-executes once per derived
    // frame
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // enrich once: the loop never re-joins the degree table
    val eo = e.join(outDeg, "src").persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()

    // dangling = nodes with no out-edges; the redistribution quotient's
    // node count rides inside the share aggregate (count(1) over ranks —
    // one row per node), so no extra count job exists anywhere
    lazy val danglingNodes = nodes.join(outDeg.select(col("src").as("node")),
      Seq("node"), "left_anti").withColumn("__dang", lit(1)).persist()

    val start = nodes.withColumn("pr", lit(1000000L))
    def contribs(ranks: DataFrame): DataFrame =
      eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
    val ranks =
      if (!redistributeDangling)
        chainRounds(start, iters, persistEvery) { ranks =>
          nodes.join(contribs(ranks), Seq("node"), "left")
            .select(col("node"),
              (lit(150000L) + expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20"))
                .as("pr"))
        }
      else {
        // window bookkeeping: every round persists (its cache is what makes
        // the broadcast-share chain single-execution, see below), but only
        // window boundaries materialize; `windowFrames` collects the
        // window's interior caches so they can drop once the boundary count
        // has run
        var ranks = start
        var cur: DataFrame = null
        var windowFrames: List[DataFrame] = Nil
        for (i <- 1 to iters) {
          // per-node share of this round's dangling mass, floor(sum / N),
          // computed entirely plan-side as a broadcast one-row aggregate
          // (count(1) over ranks IS the node count). The loop stays
          // action-free: at the window-boundary count, each round's
          // broadcast-share stage finds its `ranks` input already cached by
          // the previous round's share stage (which had to compute it),
          // so the whole window executes every round exactly once inside
          // ONE job cascade. Referencing `ranks` twice per round is safe
          // ONLY because every round persists — without the caches this
          // exact shape re-executed the base edge join 2^rounds times
          // (round 4's scale-killer, SCALE.md "Iterative operators").
          val shareDf = ranks.join(danglingNodes, Seq("node"), "left")
            .agg(coalesce(
              expr("sum(CASE WHEN __dang = 1 THEN pr END) div count(1)"),
              lit(0L)).as("__share"))
          var next = nodes.join(contribs(ranks), Seq("node"), "left")
            .crossJoin(broadcast(shareDf))
            .select(col("node"),
              (lit(150000L) +
                expr("(17 * (coalesce(s, CAST(0 AS BIGINT)) + __share)) div 20"))
                .as("pr"))
            .persist()
          windowFrames ::= next
          // Window sizing: fewer actions win decisively — every intermediate
          // materialization was measured 3-5× more expensive than letting
          // the final count's single job cascade populate the per-round
          // caches (per-round counts: 5.7-10.3 s at sf0.1 in a busy JVM;
          // fused single action: 1.5-2.1 s in the same JVM — and an
          // explicit cache-warming count on the edge frame alone cost more
          // than the whole fused run). Stage races on not-yet-populated
          // caches are bounded by the caches themselves (each frame
          // computes at most once per concurrent reader, typically ≤ 2,
          // never exponentially). So this arm fuses up to 8 rounds per
          // action; the window cap exists only to bound the LOGICAL tree
          // (it doubles per round — 2^8 bodies ≈ 10^4 analyzer nodes — and
          // interior caches drop at each boundary, keeping live cache ≤ 8
          // node-sized frames). The leaky arm is a chain and keeps
          // persistEvery batching.
          if (i % 8 == 0 || i == iters) {
            next.count() // materialize before dropping the previous window
            if (cur != null) cur.unpersist()
            windowFrames.drop(1).foreach(_.unpersist()) // keep the boundary frame
            windowFrames = Nil
            cur = next
            // leaf-ify the checkpoint so the next window's logical plan
            // starts from a constant-size tree regardless of iteration count
            // (safe here and ONLY here: truncateLineage on an unmaterialized
            // frame would eagerly run the plan's stages without populating
            // the cache)
            if (i != iters) next = truncateLineage(next)
          }
          ranks = next
        }
        ranks
      }
    // for iters >= 1 the final round always checkpoints (i == iters arm),
    // so the result is materialized and the helper caches can drop; for
    // iters == 0 the returned start frame recomputes through the caller's
    // edge construction on use — trivially cheap, it is a constant column
    // over the node set. eo is edge-sized and must not outlive the call.
    e.unpersist()
    eo.unpersist()
    nodes.unpersist()
    if (redistributeDangling) danglingNodes.unpersist()
    ranks
  }

  /** Edge-weighted PageRank: mass flows proportionally to integer edge
    * weights (`pr * w div sumw` per out-edge) instead of uniformly —
    * rank a domain graph by TRAFFIC or link COUNT rather than mere
    * adjacency (a domain linked 10,000 times from one host should not
    * score like one linked once). Same integer micro-unit convention,
    * damping 17/20, and leaky dangling semantics as [[pageRank]]; weights
    * must be positive integers (pre-aggregate parallel edges into the
    * weight — that is the intended use).
    *
    * Scale shape = [[pageRank]]'s chain: per-source weight totals join
    * into the edge frame ONCE before the loop, each round is one same-key
    * join + partial-agg sum + node-sized projection referencing `ranks`
    * exactly once, `persistEvery` batching + leaf-ification (SCALE.md
    * "Iterative operators"). Integer headroom: `pr * w` peaks at
    * 10⁶ × max-weight — keep weights below ~9×10⁹ (scale them down; only
    * ratios matter). The returned frame is persisted; caller owns
    * `unpersist()`.
    */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 3, persistEvery: Int = 4): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(persistEvery > 0, "persistEvery must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w")).persist()
    val outW = e.groupBy("src").agg(sum("w").as("sumw"))
    val eo = e.join(outW, "src").persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val ranks = chainRounds(nodes.withColumn("pr", lit(1000000L)), iters,
      persistEvery) { ranks =>
      val contribs = eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst").as("node"), expr("(pr * w) div sumw").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20"))
            .as("pr"))
    }
    e.unpersist()
    eo.unpersist()
    nodes.unpersist()
    ranks
  }

  /** Personalized (topic-sensitive) PageRank: the teleport mass returns to
    * the `seeds` set instead of spreading uniformly, so scores measure
    * proximity-with-endorsement to the seeds — the standard "expand a
    * trusted whitelist" signal (TrustRank's core mechanic): seed a few
    * hand-verified reputable domains, rank the whole link graph by
    * random-walk-with-restart mass, and crawl/keep the high-mass tail that
    * plain [[pageRank]] (which rewards ANY popularity, spam-farm links
    * included) cannot distinguish.
    *
    * Integer-exact in micro-units like [[pageRank]]: seeds start at
    * 1,000,000 and non-seeds at 0; each round
    * `pr'(v) = [v∈S]·150000 + (17·Σ contrib) div 20`. Each SEED retains
    * its own 0.15 restart mass (mass scales with |S| — divide downstream
    * if a normalized score matters; ranking is unaffected). Seeds not
    * present in the graph are ignored (documented: the walk can only
    * restart at nodes that exist).
    *
    * Scale shape = [[pageRank]]'s leaky chain: seed membership joins into
    * the node frame ONCE before the loop (node-sized, persisted), each
    * round is one same-key edge join + partial-agg sum + node-sized
    * projection referencing `ranks` exactly once, so lineage is a chain
    * and `persistEvery` batching + leaf-ification bound both plan size
    * and recompute (SCALE.md "Iterative operators"). The returned frame
    * is persisted (final checkpoint); the caller owns `unpersist()`.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, persistEvery: Int = 4): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(persistEvery > 0, "persistEvery must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eo = e.join(outDeg, "src").persist()
    // node frame carries the seed indicator for the whole loop: one
    // distinct + one left join total, never inside a round
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("__s", lit(1L))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedSet, Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
      .persist()
    val ranks = chainRounds(
      nodes.select(col("node"), (col("__s") * lit(1000000L)).as("pr")), iters,
      persistEvery) { ranks =>
      val contribs = eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("__s") * lit(150000L) +
            expr("(17 * coalesce(s, CAST(0 AS BIGINT))) div 20")).as("pr"))
    }
    e.unpersist()
    eo.unpersist()
    nodes.unpersist()
    ranks
  }

  /** BFS hop distance from a seed set: every node reachable from `seeds`
    * within `maxHops` directed hops, with its shortest hop count (seeds at
    * 0, including seeds with no edges — the distance is a property of the
    * seed set, not of graph membership). The crawl-policy complement to
    * [[personalizedPageRank]]: PPR ranks by random-walk endorsement mass,
    * seed distance gives the hard radius cut ("fetch nothing more than 3
    * hops from a trusted seed" — the classic frontier-depth crawl rule),
    * and the two disagree exactly where it matters (a page 1 hop from one
    * minor seed outranks a page 4 hops from many).
    *
    * Algorithm is frontier-only BFS, the Pregel formulation: round r joins
    * ONLY the nodes first reached at round r-1 against the edge list, then
    * anti-joins the accumulated distance table to keep first discoveries.
    * Total join work across ALL rounds is O(|E|) — each edge fires exactly
    * once, when its source enters the frontier — plus one node-sized
    * anti-join per round; re-deriving distances each round from scratch
    * would be O(rounds × |E|).
    *
    * Loop discipline (SCALE.md "Iterative operators"): the per-round
    * localCheckpoint lands on the FRONTIER (the only frame the next round's
    * join references); the distance table is a union of already-checkpointed
    * frontier leaves, so referencing it twice (anti-join + result) re-reads
    * caches, never recomputes, and the logical tree grows O(1) per round.
    * The round's checkpoint job doubles as the empty-frontier probe
    * ([[Rounds.checkpoint]]): BFS stops as soon as the reachable set is
    * exhausted, so `maxHops` larger than the graph's diameter costs
    * nothing.
    *
    * Output: (node, hops) with hops in [0, maxHops], one row per reached
    * node. Unreached nodes are absent (left-join the node set and treat
    * null as "outside the radius" — materializing "infinity" rows would
    * make the output graph-sized even for a one-node seed set). The
    * returned frame is a LOCAL CHECKPOINT (materialized before the per-hop
    * frontier blocks — its former lineage leaves — are released inside the
    * call; localCheckpoint data is unrecoverable once dropped). Its blocks
    * are ContextCleaner-collected when the frame is unreferenced.
    *
    * Duplicate edges: the loop is CORRECT under them (the per-round
    * frontier `distinct` absorbs dupes) and by default does NOT dedup —
    * but the full duplicate stream is persist()ed and re-joined every
    * hop, so cache footprint and per-hop join input grow by the
    * duplication factor. On an edge stream with known heavy duplication
    * (multigraph logs, un-distinct'd click pairs) either dedupe at the
    * source where the factor is known, or pass `dedupEdges = true` to
    * buy one up-front edge shuffle that every subsequent hop amortizes.
    */
  def seedDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 3,
      dedupEdges: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    frontierBfs(edges, srcCol, dstCol, dedupEdges, maxHops,
      seeds.select(col(seedCol).as("node")).distinct().withColumn("hops", lit(0L))) {
      (e, frontier, dist, hop) =>
        e.join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hops", lit(hop))
    }
  }

  /** BFS with seed ATTRIBUTION: like [[seedDistance]], but every reached
    * node also carries WHICH seed vouches for it — the minimum seed id
    * among all seeds with a shortest path to the node (deterministic under
    * every tie: distance first, then seed order). The trust-attribution
    * form of the radius cut: "this domain is 2 hops from trusted seed X"
    * supports per-seed quotas, blame ("every spam domain traces to seed
    * Y"), and seed-set pruning in a way the bare hop count cannot.
    *
    * Same frontier-only loop as [[seedDistance]] with one extra column:
    * the frontier carries (node, seed); expansion takes min(seed) over
    * this hop's predecessors — correct because a node's min
    * shortest-path seed is the min over its shortest-path predecessors'
    * labels (every seed with a shortest path to the node shortest-reaches
    * some predecessor one hop earlier). Per-round work gains only the
    * min aggregate; state stays node-sized. The returned frame is a LOCAL
    * CHECKPOINT (the per-hop frontier blocks drop inside the call;
    * ContextCleaner collects the result's blocks once unreferenced).
    *
    * Duplicate edges: correct without dedup (the per-round min(seed)
    * aggregate is duplicate-insensitive), but cache footprint and
    * per-hop join input carry the duplication factor — see
    * [[seedDistance]]'s duplicate-edges paragraph; `dedupEdges = true`
    * opts into one up-front edge shuffle for duplicate-heavy streams.
    *
    * Output: (node, hops, seed).
    */
  def seedAttribution(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 3,
      dedupEdges: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    frontierBfs(edges, srcCol, dstCol, dedupEdges, maxHops,
      seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("hops", lit(0L)).withColumn("seed", col("node"))) {
      (e, frontier, dist, hop) =>
        e.join(frontier.select(col("node").as("src"), col("seed")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(min(col("seed")).as("seed"))
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(hop).as("hops"), col("seed"))
    }
  }

  /** The frontier-only BFS loop of [[seedDistance]] and [[seedAttribution]]:
    * `start` is the hop-0 frontier, and `expand(edges, frontier, dist, hop)`
    * returns the nodes first reached at `hop` — edges out of the frontier,
    * anti-joined against the accumulated distance table. The empty-frontier
    * probe is each round's checkpoint job, so BFS stops as soon as the
    * reachable set is exhausted. The result is a union of checkpointed
    * rounds, so it is checkpointed itself before they are released (at
    * maxHops = 0 it IS the hop-0 round).
    */
  private def frontierBfs(edges: DataFrame, srcCol: String, dstCol: String,
      dedupEdges: Boolean, maxHops: Int, start: DataFrame)(
      expand: (DataFrame, DataFrame, DataFrame, Long) => DataFrame): DataFrame = {
    // no edge distinct by DEFAULT: BFS is duplicate-insensitive, so on
    // mostly-unique edges a dedup is a full edge-table shuffle bought for
    // nothing; dedupEdges opts in for duplicate-heavy streams (scaladoc)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = (if (dedupEdges) e0.distinct() else e0).persist()
    var (frontier, probe) = Rounds.checkpoint(start, count(lit(1)))
    var dist = frontier
    var rounds = List(frontier)
    var hop = 0L
    while (hop < maxHops && probe.getLong(0) > 0L) {
      hop += 1
      val (cp, p) = Rounds.checkpoint(expand(e, frontier, dist, hop), count(lit(1)))
      rounds ::= cp
      probe = p
      if (p.getLong(0) > 0L) {
        dist = dist.union(cp)
        frontier = cp
      }
    }
    val out = Rounds.finish(dist, rounds)
    e.unpersist()
    out
  }

  /** Integer-exact HITS (Kleinberg hubs & authorities) over directed
    * edges: `iters` rounds of a(v) = Σ h(in-neighbors), h(u) = Σ a(out-
    * neighbors), each half-step max-normalized to micro-units (top score
    * = 1,000,000; L2 normalization would need a square root — max-norm
    * preserves the ranking and stays in integer arithmetic, so the
    * `ns_hits` oracle unrolls the rounds bit-for-bit, scalar-subquerying
    * the per-round maxima exactly like the dangling-mass shares of
    * [[pageRank]]'s redistribute mode). Returns (node, hub, auth),
    * zero-filled over the full node set.
    *
    * Complements PageRank for link-based curation: PageRank finds
    * endorsed domains; the hub score finds directory/aggregator domains
    * whose outlinks are worth crawling, the auth score content domains
    * worth keeping.
    *
    * Scale shape mirrors [[pageRank]]'s redistribute mode: per-round
    * state is node-sized, each half-step is one same-key join +
    * partial-aggregated sum, and the half-step maxima ride as broadcast
    * one-row aggregates over the PERSISTED raw sum frames. The loop is
    * action-free: at the window boundary's single count, each max
    * broadcast stage finds its raw input already cached (the previous
    * half-step's broadcast stage had to compute it), so the whole window
    * executes every half-step exactly once inside one job cascade. The
    * per-half-step persist is what makes the double reference of each
    * raw frame (max + normalize) safe — round 4 had this exact broadcast
    * shape WITHOUT the persists and the base edge join re-executed
    * 2^(2·rounds) times: 41.6 s at sf0.1 for two rounds vs 0.7 s for
    * PageRank on the same graph; per-half-step collect actions measured
    * ~1 s fixed cost each (SCALE.md "Iterative operators"). Zero-fill
    * over the full node set happens once on the final output — a node
    * missing from a half-step scores 0 and contributes nothing to the
    * next sum, so mid-loop zero-fill joins are pure overhead. Windows of
    * `windowRounds` rounds bound the logical tree (it doubles per
    * half-step between materializations) with one count + lineage
    * truncation per boundary. Integer headroom: raw sums are ≤
    * max-degree × 10⁶ and the normalize multiplies by 10⁶ again, so
    * degrees up to ~9×10⁶ fit in a long — pre-aggregate parallel edges
    * (or weight them down) beyond that. The returned frame is persisted
    * (the loop's final checkpoint); the caller owns `unpersist()`.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, windowRounds: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(windowRounds >= 1, "windowRounds must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    // max-normalize a persisted raw sum frame to micro-units: the max is a
    // broadcast one-row aggregate whose stage doubles as the raw frame's
    // cache population; the projection then reads the cache
    def normalized(raw: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val mx = raw.agg(greatest(coalesce(max(col(rawCol)), lit(1L)), lit(1L))
        .as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"), expr(s"($rawCol * 1000000) div __mx").as(outCol))
    }
    var hubs: DataFrame = null
    var auths: DataFrame = null
    // interior caches of the current window, dropped after its boundary
    // count; the boundary round's raws must outlive the window (its
    // hubs/auths read them) so they carry over to the next window's list
    var windowFrames: List[DataFrame] = Nil
    var boundary: List[DataFrame] = Nil
    for (i <- 1 to iters) {
      // round 1's hub scores are uniformly 10⁶, so aRaw is just
      // in-degree × 10⁶ — a bare aggregate over the edge cache, no join
      val aRaw = (if (i == 1)
          e.groupBy(col("dst")).agg((count(lit(1)) * 1000000L).as("ar"))
        else
          e.join(hubs, e("src") === hubs("node"))
            .groupBy(col("dst")).agg(sum(col("h")).as("ar")))
        .select(col("dst").as("node"), col("ar"))
        .persist()
      auths = normalized(aRaw, "ar", "a")
      val hRaw = e.join(auths, e("dst") === auths("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
        .select(col("src").as("node"), col("hr"))
        .persist()
      hubs = normalized(hRaw, "hr", "h")
      windowFrames = hRaw :: aRaw :: windowFrames
      if (i % windowRounds == 0 && i != iters) {
        // one job per window: the count's nested broadcast-max stages
        // populate every interior cache in dependency order. The FINAL
        // window skips this — out.count() below is its materialization.
        hubs.count()
        boundary.foreach(_.unpersist())
        windowFrames.drop(2).foreach(_.unpersist()) // keep this round's raws
        boundary = windowFrames.take(2)
        windowFrames = Nil
        // leaf-ify for the next window (safe: just materialized)
        hubs = truncateLineage(hubs)
        auths = truncateLineage(auths)
      }
    }
    // zero-fill over the full node set exactly once
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val out = nodes
      .join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
      .persist()
    out.count()
    e.unpersist()
    boundary.foreach(_.unpersist())
    windowFrames.foreach(_.unpersist())
    out
  }

  /** Exact triangle count + local clustering coefficient per node, over
    * the UNDIRECTED simple graph induced by `edges` (direction dropped,
    * self-loops and parallel edges removed). The standard local-density
    * signal: spam/link-farm detection on domain graphs (farms are
    * near-cliques — LCC ~ 1000 permille at high degree), community
    * cohesion, and the wedge-closure input to transitivity audits.
    *
    * Algorithm: degree-ordered orientation (Chiba–Nishizeki compact-
    * forward, the standard distributed formulation from Suri/Vassilvitskii
    * 2011 "Counting Triangles and the Curse of the Last Reducer"). Each
    * undirected edge {u,v} is oriented from the endpoint with the smaller
    * (degree, node) rank to the larger; every triangle then has exactly
    * one node with two out-edges, so wedges (two oriented edges sharing a
    * source, targets rank-ordered) closed by a third oriented edge count
    * each triangle ONCE, with no post-hoc dedup.
    *
    * Scale shape — the orientation IS the skew guard: a degree-D hub's
    * ORIENTED out-degree is bounded by the number of neighbors ranking
    * above it, at most O(sqrt(m)) on any graph (a node with oriented
    * out-degree k has k neighbors of degree >= its own, and sum(deg) =
    * 2m), so the wedge stage generates O(m^1.5) rows worst-case instead
    * of the sum-of-deg² a naive neighbor self-join pays — the "last
    * reducer" hub that would hold deg² wedges holds ~none, because hubs
    * rank LAST and source no wedges. Every stage is a partial-aggregated
    * count or an equi-join on node / (v,w) pair keys.
    *
    * Output: (node, deg, triangles, lcc_permille) with
    * lcc_permille = (2000 * triangles) div (deg * (deg - 1)) for
    * deg >= 2 else 0 — integer arithmetic end-to-end, so the whole
    * pipeline replays bit-for-bit in the `ns_triangles` oracle. Global
    * triangle count = sum(triangles) / 3.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
    val und = e0.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low (deg, node) -> high; u < v canonically, so the tie falls u -> v
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val fwd = lower_rank_first(withDeg)
    // wedges: two oriented edges out of the same source, targets rank-ordered
    val e1 = fwd.select(col("s").as("ws"), col("t").as("wv"), col("dt").as("dwv"))
    val e2 = fwd.select(col("s").as("ws"), col("t").as("ww"), col("dt").as("dww"))
    val wedges = e1.join(e2, Seq("ws"))
      .where(col("dwv") < col("dww") ||
        (col("dwv") === col("dww") && col("wv") < col("ww")))
      .select(col("ws"), col("wv"), col("ww"))
    val closed = wedges.join(
      fwd.select(col("s").as("wv"), col("t").as("ww")), Seq("wv", "ww"))
    val perNode = closed.select(explode(array(col("ws"), col("wv"), col("ww"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          call_function("div", lit(2000L) * coalesce(col("triangles"), lit(0L)),
            col("deg") * (col("deg") - lit(1L))))
          .otherwise(lit(0L)).as("lcc_permille"))
  }

  /** Neighborhood-overlap similarity: node pairs of the undirected simple
    * graph that share at least `minCommon` neighbors, scored by Jaccard
    * overlap of their neighbor sets in integer permille. The structural
    * mirror/clone detector on link graphs — two domains whose OUTLINK or
    * co-citation neighborhoods coincide are mirrors, scraper clones, or a
    * link farm's members even when their page text already diverged
    * (complements [[triangles]]' density and content-side
    * [[graft.ops.Dedup.minhashCandidates]]): rows with jaccard_permille
    * near 1000 are near-identical link contexts.
    *
    * Algorithm: count common neighbors by wedge enumeration — for every
    * node u emit the rank-ordered pairs of its neighborhood, then one
    * partial-aggregated count per pair; Jaccard then needs no set
    * intersection: |A∩B| = common, |A∪B| = deg_a + deg_b − common.
    *
    * Scale shape — wedge volume is Σ deg(u)², and a single celebrity hub
    * would emit deg² pairs from ITS neighborhood alone (the co-citation
    * analogue of a stopword). `maxWedgeDegree` is the skew guard: nodes
    * with degree above it contribute NO wedges (their shared-ness carries
    * almost no similarity signal — everyone links the hub), exactly the
    * stop-neighbor pruning of prefix-filter similarity joins. Degrees in
    * the Jaccard stay the TRUE degrees, so excluded hubs only UNDERCOUNT
    * `common` (scores are a lower bound when the guard fires; the gate
    * query runs with the guard above the max degree, where the output is
    * exact). Pairs, not wedges, are the output unit: one exchange keyed by
    * (a, b) after the per-u flat enumeration, everything else node-keyed.
    *
    * Output: (node_a, node_b, common, deg_a, deg_b, jaccard_permille)
    * with node_a < node_b, jaccard_permille = (1000·common) div
    * (deg_a + deg_b − common).
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 1L, maxWedgeDegree: Long = 10000L): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    require(maxWedgeDegree >= 1, "maxWedgeDegree must be >= 1")
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nbrs = und.select(col("u").as("n"), col("v").as("nb"))
      .union(und.select(col("v").as("n"), col("u").as("nb")))
    // stop-neighbor guard: high-degree wedge CENTERS are dropped before
    // the quadratic enumeration (broadcastable node-sized side)
    val centers = nbrs.join(
      deg.where(col("deg") <= maxWedgeDegree).select(col("node").as("n")),
      Seq("n"), "left_semi")
    val pairs = centers.select(col("n"), col("nb").as("na"))
      .join(centers.select(col("n"), col("nb").as("nb2")), Seq("n"))
      .where(col("na") < col("nb2"))
      .groupBy(col("na").as("node_a"), col("nb2").as("node_b"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
    pairs
      .join(deg.select(col("node").as("node_a"), col("deg").as("deg_a")), "node_a")
      .join(deg.select(col("node").as("node_b"), col("deg").as("deg_b")), "node_b")
      .select(col("node_a"), col("node_b"), col("common"),
        col("deg_a"), col("deg_b"),
        call_function("div", lit(1000L) * col("common"),
          col("deg_a") + col("deg_b") - col("common")).as("jaccard_permille"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees across edges of the undirected simple graph —
    * POSITIVE when high-degree nodes link to each other (social/citation
    * shape), NEGATIVE for hub-and-spoke (web/link-farm shape; a strongly
    * disassortative domain graph is a spam-architecture smell next to
    * [[triangles]]' local density). Both edge orientations enter the
    * correlation (the standard symmetrization — the undirected metric
    * must not depend on storage orientation).
    *
    * Implementation is one composition: simple-graph degrees (two
    * partial-agg counts) joined onto the edge list, then
    * [[Profile.correlationMatrix]]'s exact-decimal one-scan correlation.
    * Output: one row, (col_x, col_y, n, co-moments, corr_permille) with
    * n = 2 × |edges|.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val both = und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
    val pairs = both
      .join(deg.select(col("node").as("u"), col("deg").as("deg_src")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("deg_dst")), "v")
      .select("deg_src", "deg_dst")
    Profile.correlationMatrix(pairs, Seq("deg_src", "deg_dst"))
  }

  /** Orient each (u, v, du, dv) row from the smaller (deg, node) endpoint
    * to the larger, carrying the target's degree for wedge rank-ordering.
    * u < v canonically, so on a degree tie the u -> v direction is the
    * (deg, node)-lexicographic one: the condition is du <= dv.
    */
  private def lower_rank_first(withDeg: DataFrame): DataFrame =
    withDeg.select(
      when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("s"),
      when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("t"),
      when(col("du") <= col("dv"), col("dv")).otherwise(col("du")).as("dt"))

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * FIXED-round form: labels start as node ids; each round every node
    * adopts the most frequent label among its neighbors, ties broken
    * toward the LARGER label — chosen so the round is ONE
    * `max(struct(count, label))` partial aggregate per node instead of a
    * rank window (any fixed tie direction yields valid communities; this
    * one is the cheapest to compute and to replay in SQL). Run for
    * exactly `rounds` rounds: sync LPA can oscillate on bipartite-ish
    * structure (the classic 2-coloring flip-flop), so run-to-convergence
    * is NOT offered — fixed rounds make the operator total and
    * deterministic, and 3-5 rounds is the standard operating range
    * (labels stabilize inside dense communities long before global
    * convergence). For connected-component semantics use
    * [[graft.ops.Dedup.connectedComponentsStar]]; LPA splits DENSE
    * subregions apart where CC would fuse everything reachable.
    *
    * Loop discipline (SCALE.md): labels are node-sized, localCheckpointed
    * per round (the round references the frame in the join AND the
    * isolated-node coalesce). Each round = one edge-sized join + one
    * (node, label) partial-agg count + one argmax partial agg.
    *
    * Output: (node, label) — nodes sharing a label are one community.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct().persist()
    val nbrs = und.select(col("u").as("n"), col("v").as("nb"))
      .union(und.select(col("v").as("n"), col("u").as("nb")))
    var labels = Rounds.checkpoint(
      und.select(col("u").as("node")).union(und.select(col("v").as("node")))
        .distinct().withColumn("label", col("node")))._1
    for (_ <- 1 to rounds) {
      val nbrLabels = nbrs
        .join(labels.select(col("node").as("nb"), col("label").as("nbl")), "nb")
        .groupBy(col("n"), col("nbl")).agg(count(lit(1)).as("c"))
      val winners = nbrLabels.groupBy(col("n"))
        .agg(max(struct(col("c"), col("nbl"))).getField("nbl").as("__new"))
      val next = labels
        .join(winners.withColumnRenamed("n", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
      labels = Rounds.advance(Seq(labels), next)._1
    }
    und.unpersist()
    labels
  }

  /** k-core of the undirected simple graph: the maximal subgraph where
    * every node keeps degree >= k, by parallel peeling (remove all
    * sub-k nodes, recompute, repeat to fixed point) — the density filter
    * behind link-farm cores, community nuclei, and "only well-embedded
    * domains" crawl policies ([[triangles]] measures local density;
    * k-core keeps the globally cohesive part).
    *
    * Loop discipline (SCALE.md "Iterative operators"): each round
    * references the edge frame three times (doubled neighborhood + two
    * semi-joins), so every round localCheckpoints — lineage stays
    * O(round body) — and the convergence probe is the edge COUNT, which
    * is monotone decreasing and strictly drops while any node peels
    * (every peeled node carries >= 1 remaining edge), so equal counts ==
    * fixed point with no fingerprint pass. Worst case is O(n) rounds on
    * degenerate chains (peeling's inherent depth — a path with k = 2
    * sheds only its two endpoints per round); `maxRounds` fails loudly
    * rather than looping silently. Each round is two partial-agg counts
    * + two semi-joins on node keys — no row ever carries more than
    * (u, v).
    *
    * Output: (node, deg) for k-core members, deg = degree WITHIN the
    * core (>= k by construction). Empty output = the graph has no
    * k-core.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Long,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    // the edge count is each round's probe: its job materializes the round
    var (e, probe) = Rounds.checkpoint(e0, count(lit(1)))
    var n = probe.getLong(0)
    var converged = n == 0
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.where(col("d") >= k).select(col("node"))
      val e2 = e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      val (cp, p) = Rounds.advance(Seq(e), e2, count(lit(1)))
      val n2 = p.getLong(0)
      e = cp
      converged = n2 == n
      n = n2
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds — degenerate chain-" +
          "heavy input; raise maxRounds (peeling depth is O(n) worst case)")
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Edge reciprocity of the directed simple graph: the fraction of
    * directed edges whose reverse edge also exists, in integer permille —
    * the third shape metric next to [[degreeAssortativity]] (who links
    * whom by degree) and [[triangles]] (local density): citation/link
    * graphs run near 0 (endorsement is one-way), social graphs high, and
    * a link farm's mutual-exchange core shows as a high-reciprocity
    * subregion of an otherwise low-reciprocity web graph. Self-loops
    * drop; parallel edges collapse (simple-graph semantics, the
    * [[triangles]] convention).
    *
    * One distinct + one self left-semi join on the swapped key pair +
    * two counts folded into a single aggregate row — the join is
    * equi-keyed on (dst, src) so it hash-partitions, never a product.
    * Output: one row (n_edges, n_reciprocated, reciprocity_permille).
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
      .where(col("s") =!= col("d") && col("s").isNotNull && col("d").isNotNull)
      .distinct()
    val recip = e.join(e.select(col("d").as("s"), col("s").as("d")),
      Seq("s", "d"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocated"))))
      .select(col("n_edges"), col("n_reciprocated"),
        scaled(col("n_reciprocated"), col("n_edges"), 1000L).otherwise(lit(0L))
          .as("reciprocity_permille"))
  }

  /** Per-node degree profile: (node, out_deg, in_deg), zero-filled for
    * nodes that only appear on one side. Two partial-aggregated counts and
    * an outer join of node-sized frames.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outD = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val inD = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    outD.join(inD, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
