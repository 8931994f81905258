package graft.ops

import graft.{Det, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over a deterministic synthetic graph.
  *
  * The corpus tables can't supply a sparse graph (the documents
  * vocabulary is 31 terms that nearly all co-occur — the
  * co-occurrence graph is complete, degenerate for triangle work), so
  * the graph is generated graph500-style from orderkeys by pure
  * modular arithmetic: each orderkey u emits 4 pseudo-random
  * neighbors 1 + (u·131 + i·9973) mod max_key. Both engines run the
  * identical integer construction, so the DuckDB oracle reproduces
  * the exact graph; vertex count (and edge count) scales linearly
  * with the fact table.
  *
  *  - q_graph_triangles: exact triangle count + global clustering
  *    coefficient. Edges are ORIENTED by the DEGREE total order
  *    (degree, id) — Latapy's compact-forward orientation (TCS 2008):
  *    every edge points from its lower-(degree, id) endpoint to the
  *    higher one, so each triangle has exactly one oriented
  *    representation (a→b, b→c, a→c) — no post-hoc /6 and no
  *    symmetric edge duplication — counted ONCE at its base edge
  *    (a, b) as |N⁺(a) ∩ N⁺(b)| over out-neighbor sets (Latapy's
  *    compact-forward). The orientation bounds every |N⁺| at O(√E)
  *    even on power-law graphs (a hub's edges all point INTO it; an
  *    id-ordered orientation has no such bound — a low-id hub keeps
  *    all its wedges), so the per-edge intersect is bounded on
  *    arbitrary skew and the O(E^1.5) wedge stream exists only
  *    inside the narrow intersect, never as a shuffled relation.
  *    GraphSpec measures the out-degree reduction on a skewed star
  *    graph. Scale shape: two vertex-keyed equi-joins attach the
  *    neighbor lists; the 1-row stat aggregates assemble via
  *    broadcast cross joins.
  */
object Graph extends QueryPack {

  /** Out-degree of the synthetic generator (edges per orderkey). */
  private val Fanout = 4

  /** Normalized (u < v) generator output BEFORE dedup: the modular
    * construction can emit the same pair twice. Queries that only
    * need the ADJACENCY fold the dedup into their per-vertex
    * collect_set instead of paying a separate edge-wide distinct
    * shuffle. */
  private def rawPairs(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("u"))
    val nv = o.agg(max(col("u")).as("nv"))
    o.crossJoin(broadcast(nv))
      .select(col("u"), col("nv"), explode(sequence(lit(1), lit(Fanout))).as("i"))
      .select(col("u"),
        (lit(1) + (col("u") * 131 + col("i") * 9973) % col("nv")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
  }

  /** Oriented (u < v) distinct edge list of the synthetic graph.
    * Package-visible so GraphSpec can run exact differentials on it. */
  private[ops] def edges(s: SparkSession, d: String): DataFrame =
    rawPairs(s, d).distinct()

  /** Grouped adjacency (src, deg, [dsts]) of the UNDIRECTED distinct
    * graph, built in ONE shuffle: both directions of the raw pair
    * stream feed a per-vertex collect_set, whose set semantics ARE
    * the edge dedup — no separate edge-wide distinct pass. Cached
    * pre-partitioned + sorted on src so the iterative consumers'
    * joins reuse partitioning and order. Caller unpersists. */
  private def groupedAdj(s: SparkSession, d: String): DataFrame = {
    val raw = rawPairs(s, d)
    val dir = raw.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(raw.select(col("v").as("src"), col("u").as("dst")))
    // (r16: dropping the explicit .repartition(col("src")) as a
    // "redundant second exchange" was tried and REJECTED — without it
    // AQE coalesces the aggregate's exchange before the cache and the
    // whole loop family loses its parallelism: kcore 4.2 -> 5.9 s,
    // bfs 4.8 -> 6.2, modularity 4.0 -> 5.1. The repartition is the
    // parallelism PIN for the cached adjacency, not dead weight.)
    //
    // Scale-adaptive partition COUNT (optimization r17 — the
    // connectedComponents loopParts precedent): pinning at the session
    // default (32) makes every iterative consumer schedule 32
    // near-empty tasks per stage per round — and the per-round label/
    // frontier exchanges inherit that width from the join's required
    // co-partitioning — measured as pure scheduling floor at bench
    // scale. Derive the count from the EDGE data instead: the
    // generator emits 2·Fanout directed edges (~16 B each) per order
    // row, so edge bytes ≈ 7× the orders parquet footprint; target
    // ~4 MB per partition, floor 4. The size comes from the listing
    // Tables took when rawPairs loaded orders (no extra IO, no job),
    // and a source that cannot be listed gets the floor. At 100 TB
    // the same formula grows the loop width with the graph
    // (partition-invariance audits pin that the COUNT cannot change
    // results).
    val parts = Tables.bytes(s, d, "orders")
      .fold(4)(bytes => math.max(4, (bytes * 7 / (4L << 20)).toInt))
    dir.groupBy("src").agg(collect_set(col("dst")).as("dsts"))
      .select(col("src"), size(col("dsts")).cast("long").as("deg"), col("dsts"))
      .repartition(parts, col("src")).sortWithinPartitions("src").persist()
  }

  /** Undirected degree per vertex of a (u < v) distinct edge list. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))

  /** Latapy orientation: re-direct each undirected edge to run from
    * its smaller (degree, id) endpoint `a` to the larger `b`. A total
    * order on vertices, so the oriented graph is acyclic and every
    * triangle has exactly one (a→b→c, a→c) representation — same
    * uniqueness the id order gave — but out-degrees are now bounded
    * by O(√E): a vertex keeps an out-edge only toward HIGHER-degree
    * neighbors, so dout(v) ≤ deg(v) capped by the count of
    * ≥-degree vertices. Two vertex-keyed equi-joins against the
    * vertex-sized degree table (Catalyst reuses the degree exchange
    * for both sides). Package-visible for GraphSpec's skew
    * differential. */
  private[ops] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    val fwd = // does the existing u→v direction already agree with (deg, id)?
      col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    e.join(deg.as("tu"), col("u") === col("tu.x"))
      .join(deg.as("tv"), col("v") === col("tv.x"))
      .select(col("u"), col("v"), col("tu.d").as("du"), col("tv.d").as("dv"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
  }

  /** Everything rides the ONE cached grouped-adjacency exchange (r7):
    * the distinct (u < v) edge list falls out of the adjacency's
    * collect_set (explode + u < v keeps each undirected edge once),
    * degrees are the adjacency's own `deg` column (no fresh
    * edge-union aggregation), and the edge/vertex/wedge stats are a
    * single 1-row aggregate over it (n_edges = Σdeg div 2). The
    * Latapy orientation then needs only ONE vertex-keyed join (the
    * left endpoint's degree comes attached from the explode), and the
    * oriented edge list is localCheckpoint-materialized so the
    * out-adjacency build and both neighbor-list lookups below scan
    * one materialized copy instead of recomputing
    * generator+orientation three times. */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      val stats = adj.agg(
        expr("sum(deg) div 2").as("n_edges"),
        count(lit(1)).as("n_vertices"),
        // clustering denominator: UNDIRECTED connected triples,
        // independent of the join orientation below
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
        .localCheckpoint() // 1 row; eager, so adj.unpersist is safe
      val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
      val o = adj
        .select(col("src").as("u"), col("deg").as("du"), explode(col("dsts")).as("v"))
        .filter(col("u") < col("v"))
        .join(adj.select(col("src").as("x"), col("deg").as("dx")), col("v") === col("x"))
        .select(col("u"), col("v"), col("du"), col("dx").as("dv"))
        .select(
          when(fwd, col("u")).otherwise(col("v")).as("a"),
          when(fwd, col("v")).otherwise(col("u")).as("b"))
        .localCheckpoint() // edge-sized; shared by the two lookups below
      // Compact-forward counting (r9): each oriented triangle
      // a→b, b→c, a→c is found ONCE at its base edge (a, b) as
      // |N⁺(a) ∩ N⁺(b)|. The oriented out-adjacency is vertex-keyed
      // and E-sized in total, and the count needs only TWO
      // vertex-keyed joins attaching N⁺(a) and N⁺(b) to each edge +
      // a narrow array_intersect — the wedge-sized (O(E^1.5))
      // intermediate the former e1⋈e2⋈e3 self-join formulation
      // SHUFFLED never materializes (measured 2.3s → 1.0s quiet at
      // sf0.1). Latapy's degree bound still applies: under the
      // orientation every |N⁺| ≤ O(√E), so the per-row intersect is
      // bounded on arbitrary skew.
      val oAdj = o.groupBy(col("a").as("s")).agg(collect_set(col("b")).as("nbrs"))
        .localCheckpoint() // vertex-sized; reused by both lookups
      val triStats = o
        .join(oAdj.as("na").hint("shuffle_hash"), col("a") === col("na.s"))
        .join(oAdj.as("nb").hint("shuffle_hash"), col("b") === col("nb.s"))
        .select(size(array_intersect(col("na.nbrs"), col("nb.nbrs"))).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
      stats.crossJoin(broadcast(triStats))
        .select(col("n_edges"), col("n_vertices"), col("n_wedges"), col("n_triangles"),
          Det.r4(lit(3.0) * col("n_triangles") / col("n_wedges")).as("clustering"))
    } finally adj.unpersist()
  }

  /** Fixed-point scale for PageRank mass: 1.0 of rank = 1e12. */
  private[ops] val PrScale = 1000000000000L
  /** Damping 0.85 expressed as integer percent. */
  private[ops] val PrDampPct = 85L
  private[ops] val PrIters = 8

  /** PageRank over the synthetic graph (undirected: each edge walks
    * both ways), PrIters power iterations. All mass arithmetic is
    * FIXED-POINT Long (scale 1e12): r/deg is integer `div`, the
    * damping multiply is `(m * 85) div 100`, and Long sums are exact
    * and order-independent — so the result is BIT-deterministic
    * across partitionings, task orders, and retries, which no
    * double-based formulation can promise (FP addition does not
    * commute with partial aggregation). Headroom: a vertex's in-mass
    * is ≤ max_deg · max_rank ≈ 2⁶ · 2 · 1e12 ≪ 2⁶³/85.
    *
    * Scale shape: the grouped adjacency (one row per vertex) is
    * built in one shuffle (groupedAdj) and cached pre-partitioned +
    * sorted on src; every iteration is ONE vertex-keyed join + ONE
    * dst-keyed partial-agg shuffle, the edge-sized stream existing
    * only as a narrow explode between them. The rank side carries a
    * SHUFFLE_HASH hint: it arrives already co-partitioned from the
    * previous round's agg, and hashing the vertex-sized build beats
    * re-sorting it every round for a merge join (measured ~25% off
    * the loop at sf0.1); at real scale the per-partition rank slice
    * is still vertex-count/parallelism — hash-buildable. The (1-d)/N
    * base term is folded in as a Scala constant from `adj.count()` —
    * one scalar action that doubles as the cache materializer,
    * replacing a per-iteration 1-row broadcast build. Lineage is cut
    * by localCheckpoint mid-loop, the connected-components pattern
    * (see Dedup.connectedComponents). */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      // one row per vertex, so the cache-materializing count IS the
      // vertex count; empty graph short-circuits before the 0-divide
      val nVerts = adj.count()
      if (nVerts == 0L)
        return adj.select(col("src").as("v"), col("deg").as("rank_fp"))
      val base = (PrScale * (100 - PrDampPct) / 100) / nVerts
      var ranks = adj.select(col("src").as("v"), lit(PrScale).as("r"))
      // loop rounds execute eagerly (checkpoints) on vertex-bounded
      // state: compile-bound, not data-bound — run interpreted
      graft.GraftSession.interpreted(s) {
        for (i <- 1 to PrIters) {
          ranks = adj.join(ranks.hint("shuffle_hash"), col("src") === col("v"))
            .select(explode(col("dsts")).as("dst"), expr("r div deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
            .select(col("dst").as("v"),
              (lit(base) + expr(s"(in_mass * $PrDampPct) div 100")).as("r"))
          if (i % 4 == 0) ranks = ranks.localCheckpoint()
        }
      }
      ranks.orderBy(col("r").desc, col("v")).limit(20)
        .select(col("v"), col("r").as("rank_fp"))
    } finally adj.unpersist()
  }

  /** BFS hop cap — mirrored in the recursive-CTE oracle, so both
    * engines explore the identical bounded neighborhood. */
  private[ops] val BfsMaxHops = 10

  /** Single-source BFS hop distances from the globally smallest
    * vertex, capped at BfsMaxHops, reported as a (hops, n_vertices)
    * histogram. The iterative frontier loop is the textbook
    * distributed BFS: each round joins the CURRENT FRONTIER (only the
    * vertices first reached last round — not the whole visited set)
    * against the grouped adjacency, then an anti-join against the
    * visited set keeps first-touch distances only. Work per round is
    * O(frontier · fanout) plus one vertex-keyed shuffle, the same
    * shape Pregel/GraphX uses; total work is O(E) across all rounds
    * regardless of the cap.
    *
    * The frontier is localCheckpointed each round (it seeds the next
    * join). First-touch filtering anti-joins the candidate set
    * against the LAST TWO FRONTIERS, not the whole visited set: on an
    * undirected graph a neighbor of a layer-h vertex lies in layer
    * h-1, h, or h+1, so subtracting layers h and h-1 leaves exactly
    * layer h+1 — the anti side stays frontier-sized for the whole
    * walk instead of growing to O(V) (the visited accumulator leaves
    * the loop's join path entirely; it only feeds the final
    * histogram, lineage cut every 4 rounds, the connected-components
    * cadence). Per-round joins carry SHUFFLE_HASH hints: the
    * frontier sets are vertex-bounded and hashing them beats the
    * merge join's per-round re-sort. The source vertex is a 1-row
    * broadcast, not a driver collect, so the query degrades cleanly
    * on an empty graph. BFS gives min-hop distance by construction,
    * so the result is exactly DuckDB's MIN(d) over the bounded
    * recursive walk. */
  private def bfs(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      // seed = globally smallest vertex, read off the CACHED adjacency
      // (same vertex set as the raw pair stream) instead of re-running
      // the generator for one min
      val src0 = adj.agg(min(col("src")).as("s0"))
      var frontier = adj.select(col("src").as("v")).crossJoin(broadcast(src0))
        .filter(col("v") === col("s0")).select(col("v"), lit(0).as("hops"))
        .localCheckpoint()
      var prev = frontier.limit(0)
      var visited = frontier
      var hop = 0
      // frontier rounds are compile-bound (per-round eager checkpoints
      // over frontier-sized state) — run interpreted
      graft.GraftSession.interpreted(s) {
        while (hop < BfsMaxHops && !frontier.isEmpty) {
          hop += 1
          val next = adj.join(frontier.hint("shuffle_hash"), col("src") === col("v"))
            .select(explode(col("dsts")).as("nv")).distinct()
            .join(frontier.hint("shuffle_hash").as("cf"),
              col("nv") === col("cf.v"), "left_anti")
            .join(prev.hint("shuffle_hash").as("pf"),
              col("nv") === col("pf.v"), "left_anti")
            .select(col("nv").as("v"), lit(hop).as("hops"))
            .localCheckpoint()
          visited = visited.unionAll(next)
          if (hop % 4 == 0) visited = visited.localCheckpoint()
          prev = frontier
          frontier = next
        }
      }
      visited.groupBy(col("hops")).agg(count(lit(1)).as("n_vertices"))
        .orderBy("hops")
    } finally adj.unpersist()
  }

  /** Synchronous label-propagation rounds; mirrored in the unrolled
    * oracle CTEs so both engines run the identical fixed schedule. */
  private[ops] val LpIters = 4
  /** Initial label: v mod LpSeedMod — a deterministic 10-way seeding
    * that propagation then coarsens into communities. */
  private[ops] val LpSeedMod = 10

  /** Community detection by synchronous label propagation (Raghavan
    * et al., Phys. Rev. E 76, 2007) made DETERMINISTIC: each round
    * every vertex adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — argmax over exact Long
    * counts with a total tie order, so the fixed-round schedule is
    * reproducible bit-for-bit on any engine (the classic async
    * random-order formulation is not). Reported as the final
    * label → community-size histogram.
    *
    * Scale shape: identical to PageRank's loop — every round is ONE
    * vertex-keyed join against the shared cached grouped adjacency
    * (the label side arrives co-partitioned from the previous round's
    * aggregate, SHUFFLE_HASH on the vertex-sized build) + ONE
    * dst-keyed exchange. The neighbor-label count and the dst argmax
    * both run INSIDE that single exchange: an explicit
    * repartition(dst) satisfies ClusteredDistribution for both the
    * (dst, lbl) count and the dst argmax, so Catalyst plans neither
    * aggregate with its own shuffle — measured 7.8→~4.5s at sf0.1
    * versus the two-exchange groupBy chain, the same per-round stage
    * shape as PageRank. The exchange moves the raw E-row label
    * stream (no map-side combine), which at 100 TB is the same
    * E-linear volume PageRank's mass shuffle moves; the argmax is
    * max(struct(count, −label)) — a single agg, no window over the
    * edge stream. */
  /** The [[labelProp]] loop body, shared with [[modularity]]: final
    * (v, lbl) assignment after LpIters synchronous rounds over the
    * given cached adjacency. */
  private def lpLabels(adj: DataFrame): DataFrame = {
    var labels = adj.select(col("src").as("v"), (col("src") % LpSeedMod).as("lbl"))
    // propagation rounds are compile-bound at bench scale — interpreted
    graft.GraftSession.interpreted(adj.sparkSession) {
      for (i <- 1 to LpIters) {
        labels = adj.join(labels.hint("shuffle_hash"), col("src") === col("v"))
          .select(explode(col("dsts")).as("dst"), col("lbl"))
          .repartition(col("dst"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), negate(col("lbl")).as("nl"))).as("m"))
          .select(col("dst").as("v"), negate(col("m.nl")).as("lbl"))
        if (i % 4 == 0) labels = labels.localCheckpoint()
      }
      labels
    }
  }

  private def labelProp(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      lpLabels(adj).groupBy(col("lbl")).agg(count(lit(1)).as("n_vertices"))
        .orderBy("lbl")
    } finally adj.unpersist()
  }

  /** Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the label-
    * propagation partition — the quality score that says whether the
    * communities labelProp found are denser than chance (Newman &
    * Girvan, Phys. Rev. E 69, 2004). Everything rides the one cached
    * adjacency: m and d_c come from its `deg` column, e_c from the
    * (u < v) edge explode joined against the label table twice
    * (vertex-keyed equi-joins — the labels table is vertex-sized).
    * The per-community terms are community-bounded, DECIMAL-summed;
    * m, d_c, e_c are exact Longs. */
  private def modularity(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      // labels have three consumers (dc, and both edge endpoints):
      // materialize so the 4-round loop runs once
      val labels = lpLabels(adj).localCheckpoint()
      val stats = adj.agg(expr("sum(deg) div 2").as("m"),
        count(lit(1)).as("n_vertices"))
      // Q divides by m: an edgeless graph would yield NaN terms whose
      // cross-engine encoding may diverge silently — short-circuit to
      // a zero-row result instead, mirroring pagerank's nVerts guard.
      // One head() on a 1-row agg over the already-cached adjacency.
      val st = stats.head()
      if (st.isNullAt(0) || st.getLong(0) == 0L)
        return stats.limit(0)
          .select(col("n_vertices"), col("m").as("n_edges"),
            lit(0L).as("n_communities"), lit(0.0).as("modularity"))
      val dc = adj.join(labels.hint("shuffle_hash"), col("src") === col("v"))
        .groupBy("lbl").agg(sum(col("deg")).as("dsum"))
      val ec = adj
        .select(col("src").as("u"), explode(col("dsts")).as("w"))
        .filter(col("u") < col("w"))
        .join(labels.hint("shuffle_hash").as("la"), col("u") === col("la.v"))
        .join(labels.hint("shuffle_hash").as("lb"),
          col("w") === col("lb.v") && col("la.lbl") === col("lb.lbl"))
        .groupBy(col("la.lbl").as("lbl")).agg(count(lit(1)).as("ein"))
      dc.join(ec, Seq("lbl"), "left").na.fill(0L, Seq("ein"))
        .crossJoin(broadcast(stats))
        .select(col("m"), col("n_vertices"),
          (col("ein").cast("double") / col("m")
            - (col("dsum").cast("double") / (lit(2L) * col("m")))
              * (col("dsum").cast("double") / (lit(2L) * col("m")))).as("term"))
        .groupBy("m", "n_vertices")
        .agg(count(lit(1)).as("n_communities"),
          Det.r4(Det.dsum(col("term"), 10)).as("modularity"))
        .select(col("n_vertices"), col("m").as("n_edges"),
          col("n_communities"), col("modularity"))
    } finally adj.unpersist()
  }

  /** Structural link scoring: for every EDGE (u, v), the number of
    * common neighbors (= triangles through the edge) and the Jaccard
    * similarity of the endpoint neighborhoods,
    * cn / (deg(u) + deg(v) − cn). Restricting the pair set to
    * existing edges is what keeps the operator scale-bounded: the
    * candidate pairs are the E edges, and their common-neighbor
    * counts come from the SAME degree-oriented wedge join the
    * triangle count uses (each enumerated triangle credits its three
    * edges), so the intermediate stays O(E^1.5) on any degree
    * distribution — never the hub-quadratic all-pairs wedge set a
    * common-neighbor join over raw adjacency would build. Oriented
    * (a, b) keys are re-normalized to (min, max) id order to meet the
    * canonical edge list. Top-20 by (r4 jaccard, u, v) — a total
    * order both engines share. */
  private def graphJaccard(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      // (u < v) edge list with BOTH endpoint degrees attached, read
      // off the one cached adjacency exchange (collect_set is the
      // dedup; the left degree rides the explode, the right needs one
      // vertex-keyed join) — the triangles construction, kept
      // materialized because the wedge join scans it three times and
      // the final scoring join a fourth.
      val ewd = adj
        .select(col("src").as("u"), col("deg").as("du"), explode(col("dsts")).as("v"))
        .filter(col("u") < col("v"))
        .join(adj.select(col("src").as("x"), col("deg").as("dx")), col("v") === col("x"))
        .select(col("u"), col("v"), col("du"), col("dx").as("dv"))
        .localCheckpoint()
      val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
      val o = ewd.select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      // Compact-forward triangle enumeration (optimization r17): the
      // former e1⋈e2⋈e3 self-join SHUFFLED the wedge-sized (O(E^1.5))
      // e1⋈e2 intermediate to probe e3 — profiled 48 s of task time at
      // sf0.1, the whole query's budget. The triangles() formulation
      // (r9) transfers verbatim because the jaccard credits need the
      // (x, y, z) TRIPLES, not just the count: attach N⁺(a) and N⁺(b)
      // to each base edge with two vertex-keyed joins and EXPLODE the
      // narrow array_intersect — each common out-neighbor c IS the
      // e2.b=e3.b=z of exactly one former join row (o is a distinct
      // acyclic orientation and collect_set dedups), so the triple
      // stream is identical row-for-row and the O(E^1.5) wedge set
      // exists only inside the per-row intersect. Measured quiet
      // median 4.59 → 3.02 s (the former wedge join carried 48 s of
      // task time at sf0.1; the intersect path ~5 s).
      val oAdj = o.groupBy(col("a").as("s")).agg(collect_set(col("b")).as("nbrs"))
        .localCheckpoint() // vertex-sized; reused by both lookups
      val tri = o
        .join(oAdj.as("na").hint("shuffle_hash"), col("a") === col("na.s"))
        .join(oAdj.as("nb").hint("shuffle_hash"), col("b") === col("nb.s"))
        .select(col("a").as("x"), col("b").as("y"),
          explode(array_intersect(col("na.nbrs"), col("nb.nbrs"))).as("z"))
      val sup = tri.select(col("x").as("p"), col("y").as("q"))
        .unionAll(tri.select(col("y").as("p"), col("z").as("q")))
        .unionAll(tri.select(col("x").as("p"), col("z").as("q")))
        .select(least(col("p"), col("q")).as("u"), greatest(col("p"), col("q")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      ewd.join(sup, Seq("u", "v"), "left")
        .na.fill(0L, Seq("cn"))
        .select(col("u"), col("v"), col("cn"),
          Det.r4(col("cn").cast("double")
            / (col("du") + col("dv") - col("cn"))).as("jaccard"))
        .orderBy(col("jaccard").desc, col("u"), col("v"))
        .limit(20)
    } finally adj.unpersist()
  }

  /** k-core threshold; the synthetic graph is near-8-regular (degrees
    * 4–9), so K=8 drives a genuine peel CASCADE: removing the few
    * sub-8 vertices drops neighbors below 8, and the avalanche runs
    * deeper the larger the graph (empty by round 5 at sf0.001, round
    * 7 at sf0.01, round 8 at sf0.1) — the per-round profile is the
    * scale-variant signal the audit reports. */
  private[ops] val KcK = 8
  private[ops] val KcIters = 8

  /** k-core peeling cascade audit: KcIters synchronous peel rounds
    * toward the [[KcK]]-core (Matula–Beck/Batagelj peeling made
    * synchronous — each round removes EVERY vertex currently under
    * degree K at once, the distributed formulation), reporting the
    * per-round (n_edges, n_vertices) profile. The profile is how an
    * operator audits graph robustness at 100 TB: a shallow cascade
    * means a stable core, a deep avalanche (this graph) means the
    * K-core doesn't exist and the peel wave's depth says how far from
    * it the degree distribution sits.
    *
    * Scale shape: the state is the VERTEX-sized survivor set, never a
    * rebuilt edge list (K_{i+1} = {v ∈ K_i : |N(v) ∩ K_i| ≥ K} — set
    * recurrence ≡ edge-subgraph peeling, which the replay spec and
    * the edge-formulated oracle both pin). Each round rides the one
    * cached grouped-adjacency exchange: a vertex-keyed join gates
    * surviving sources (SHUFFLE_HASH on the vertex-sized survivor
    * set), the explode streams surviving edges narrowly into ONE
    * dst-keyed count (map-side combined), and a survivor semi-join
    * lands co-partitioned on that count's exchange — PageRank's
    * per-round stage shape, vs 2× edge-list shuffles for an edge
    * rebuild (measured 7.6 → ~4s at sf0.1). The per-round count table
    * is localCheckpointed (it feeds both the profile row and the next
    * survivor set — the second reference would otherwise double
    * lineage per round). Rounds are FIXED (no convergence probe) so
    * the unrolled oracle runs the identical schedule; peeling an
    * already-empty survivor set is a no-op round on both engines. */
  private def kcore(s: SparkSession, d: String): DataFrame = {
    val adj = groupedAdj(s, d)
    try {
      var surv = adj.select(col("src").as("v"))
      var profile = Seq.empty[DataFrame]
      // peel rounds are compile-bound (eager per-round checkpoints
      // over vertex-bounded state) — run interpreted
      graft.GraftSession.interpreted(s) {
      for (i <- 0 to KcIters) {
        // c = |N(v) ∩ K_i| for v ∈ K_i with ≥1 surviving neighbor:
        // rows are (dst ← surviving src) edge endpoints, so count(*)
        // per dst is the survivor-restricted degree and Σc = 2|E_i|
        // EAGER checkpoint: measured against the lazy variant (one
        // action driving the whole cascade) — lazy is 1.2× SLOWER
        // here (9.1 vs 7.4s at sf0.1), the BFS variant-study result
        // again: the deeper uncheckpointed plan re-executes shared
        // subtrees and AQE re-plans the fused graph worse than 9
        // bounded jobs cost in scheduler floor
        val rc = adj.join(surv.hint("shuffle_hash"), col("src") === col("v"))
          .select(explode(col("dsts")).as("dst"))
          .groupBy("dst").agg(count(lit(1)).as("c"))
          .join(surv.hint("shuffle_hash").as("sv"),
            col("dst") === col("sv.v"), "left_semi")
          .localCheckpoint()
        profile = profile :+ rc.agg(
          coalesce(expr("sum(c) div 2"), lit(0L)).as("n_edges"),
          count(lit(1)).as("n_vertices"))
          .select(lit(i).as("round"), col("n_edges"), col("n_vertices"))
        if (i < KcIters)
          surv = rc.filter(col("c") >= KcK).select(col("dst").as("v"))
      }
      }
      profile.reduce(_ unionAll _).orderBy("round")
    } finally adj.unpersist()
  }

  /** Pointer-doubling rounds: 2^HierRounds bounds the resolvable
    * depth (64 ≫ the forest's log₁₆ depth at any fixture). */
  private[ops] val HierRounds = 6

  /** Hierarchy flattening by POINTER DOUBLING — the log-round
    * technique for transitive root/depth resolution that min-label
    * propagation (diameter rounds) and recursive CTEs (depth rounds)
    * don't give you: after round i every node knows its 2^i-step
    * ancestor, so depth-D forests resolve in ⌈log₂D⌉ self-joins
    * (Wyllie's list ranking / GraphX's shortcutting). The forest is
    * deterministic from orderkeys — parent(k) = k div 16, nodes
    * under 16 are self-loop roots — so the oracle reproduces it and
    * walks it with a recursive CTE instead (depth-bounded there,
    * log-bounded here; the hash match proves them equal). Reported as
    * the (depth, n_nodes) histogram.
    *
    * Scale shape: each round is ONE vertex-keyed self-equi-join of
    * the (node, anc, d) table (SHUFFLE_HASH, vertex-sized both
    * sides), localCheckpointed per round — at 100 TB a 2³⁰-deep
    * chain resolves in 30 such joins, where any per-step walk would
    * take a billion. The loop body runs interpreted (compile-bound
    * at bench scale, the GraftSession.interpreted study). */
  private def hierarchy(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.orders(s, d).select(col("o_orderkey").as("node"))
    var t = nodes.select(col("node"),
      when(col("node") >= 16, expr("node div 16")).otherwise(col("node")).as("anc"),
      when(col("node") >= 16, lit(1L)).otherwise(lit(0L)).as("dd"))
      .localCheckpoint()
    graft.GraftSession.interpreted(s) {
      for (_ <- 1 to HierRounds) {
        t = t.as("a")
          .join(t.as("b").hint("shuffle_hash"), col("a.anc") === col("b.node"))
          .select(col("a.node").as("node"), col("b.anc").as("anc"),
            (col("a.dd") + col("b.dd")).as("dd"))
          .localCheckpoint()
      }
    }
    t.groupBy(col("dd").as("depth")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("depth")
  }

  override val queries: Map[String, Q] = Map(
    "q_hierarchy"       -> hierarchy,
    "q_graph_triangles" -> triangles,
    "q_pagerank"        -> pagerank,
    "q_graph_bfs"       -> bfs,
    "q_label_prop"      -> labelProp,
    "q_graph_jaccard"   -> graphJaccard,
    "q_kcore"           -> kcore,
    "q_modularity"      -> modularity,
  )

  /** Shared edge CTE — the identical modular construction DuckDB-side. */
  private val EdgesSql: String =
    """WITH nv AS (SELECT MAX(o_orderkey) AS nv FROM orders),
      |raw AS (
      |  SELECT o_orderkey AS u, 1 + (o_orderkey * 131 + i * 9973) % nv AS v
      |  FROM orders, nv, UNNEST([1, 2, 3, 4]) AS t(i)),
      |edges AS (
      |  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
      |  FROM raw WHERE u <> v),
      |deg AS (
      |  SELECT x, COUNT(*) AS d
      |  FROM (SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges)
      |  GROUP BY x)""".stripMargin

  /** PageRank oracle: the fixed-point Long formulation is pure
    * integer arithmetic (`div`-based mass split, integer damping
    * multiply, exact Long sums), so DuckDB reproduces it BITWISE with
    * PrIters unrolled chained CTEs running the identical update —
    * `b + (SUM(r // deg) * 85) // 100` per destination. `//` on
    * positive BIGINTs matches Scala Long `/` (both truncate); the one
    * dialect trap is DuckDB's SUM(BIGINT) → HUGEINT, so the in-mass
    * sum is CAST back to BIGINT before the damping multiply (values
    * fit: in-mass ≤ max_deg · max_rank ≪ 2⁶³/85). `deg` from the
    * shared CTE counts each vertex's endpoint appearances in the
    * distinct edge list = undirected degree = Spark's
    * size(collect_set). */
  private def pagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT dir.dst AS v,
         |         CAST((SELECT b FROM c)
         |           + (CAST(SUM(p.r // deg.d) AS BIGINT) * $PrDampPct) // 100
         |           AS BIGINT) AS r
         |  FROM dir JOIN deg ON deg.x = dir.src
         |           JOIN r${i - 1} p ON p.v = dir.src
         |  GROUP BY dir.dst)""".stripMargin
    }.mkString(",\n")
    s"""$EdgesSql,
       |dir AS (SELECT u AS src, v AS dst FROM edges
       |        UNION ALL SELECT v AS src, u AS dst FROM edges),
       |c AS (SELECT ($PrScale * ${100 - PrDampPct} // 100) // COUNT(*) AS b FROM deg),
       |r0 AS (SELECT x AS v, CAST($PrScale AS BIGINT) AS r FROM deg),
       |$iters
       |SELECT v, r AS rank_fp FROM r$PrIters ORDER BY r DESC, v LIMIT 20""".stripMargin
  }

  /** Shared label-propagation round CTEs (l0..lN over `dir`/`deg`). */
  private def lpRoundsSql: String = {
    val rounds = (1 to LpIters).map { i =>
      s"""c$i AS (
         |  SELECT dir.dst AS v, p.lbl, COUNT(*) AS c
         |  FROM dir JOIN l${i - 1} p ON p.v = dir.src
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT v, lbl FROM c$i
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) = 1)""".stripMargin
    }.mkString(",\n")
    s"""dir AS (SELECT u AS src, v AS dst FROM edges
       |        UNION ALL SELECT v AS src, u AS dst FROM edges),
       |l0 AS (SELECT x AS v, x % $LpSeedMod AS lbl FROM deg),
       |$rounds""".stripMargin
  }

  /** Label-propagation oracle: LpIters unrolled rounds, each a
    * neighbor-label count CTE + a QUALIFY argmax with the identical
    * (count DESC, label ASC) total tie order. */
  private def labelPropSql: String =
    s"""$EdgesSql,
       |$lpRoundsSql
       |SELECT lbl, COUNT(*) AS n_vertices FROM l$LpIters
       |GROUP BY lbl ORDER BY lbl""".stripMargin

  /** Modularity oracle: the label-prop chain, the final assignment
    * MATERIALIZED (three consumers — the kcore inlining lesson), then
    * Newman's formula with the identical IEEE term text. */
  private def modularitySql: String =
    s"""$EdgesSql,
       |$lpRoundsSql,
       |lf AS MATERIALIZED (SELECT v, lbl FROM l$LpIters),
       |ms AS (SELECT COUNT(*) AS m FROM edges),
       |nvt AS (SELECT COUNT(*) AS n_vertices FROM deg),
       |dc AS (
       |  SELECT lbl, CAST(SUM(d) AS BIGINT) AS dsum
       |  FROM deg JOIN lf ON lf.v = deg.x GROUP BY lbl),
       |ec AS (
       |  SELECT la.lbl, COUNT(*) AS ein
       |  FROM edges e
       |  JOIN lf la ON la.v = e.u
       |  JOIN lf lb ON lb.v = e.v AND lb.lbl = la.lbl
       |  GROUP BY la.lbl),
       |terms AS (
       |  SELECT CAST(COALESCE(ec.ein, 0) AS DOUBLE) / m
       |           - (CAST(dsum AS DOUBLE) / (2 * m))
       |             * (CAST(dsum AS DOUBLE) / (2 * m)) AS term,
       |         m, n_vertices
       |  FROM dc LEFT JOIN ec USING (lbl), ms, nvt)
       |SELECT n_vertices, m AS n_edges, COUNT(*) AS n_communities,
       |       ${Det.r4Sql(Det.dsumSql("term", 10))} AS modularity
       |FROM terms
       |GROUP BY n_vertices, m""".stripMargin

  /** k-core oracle: the peel rounds unrolled as MATERIALIZED CTEs.
    * Materialization is load-bearing here, not a hint: each round's
    * edge list is referenced three times (its degree table, the next
    * round's join, the profile row), and DuckDB 1.0 inlines plain
    * CTEs per reference — the 8-round chain would expand
    * exponentially exactly like an uncheckpointed Spark lineage (the
    * same blowup, one engine over). */
  private def kcoreSql: String = {
    def degOf(i: Int) =
      s"""d$i AS MATERIALIZED (
         |  SELECT x, COUNT(*) AS dd
         |  FROM (SELECT u AS x FROM e$i UNION ALL SELECT v AS x FROM e$i)
         |  GROUP BY x)""".stripMargin
    val rounds = (1 to KcIters).map { i =>
      val p = i - 1
      s"""k$p AS MATERIALIZED (SELECT x FROM d$p WHERE dd >= $KcK),
         |e$i AS MATERIALIZED (
         |  SELECT e$p.u, e$p.v FROM e$p
         |  JOIN k$p a ON a.x = e$p.u
         |  JOIN k$p b ON b.x = e$p.v),
         |${degOf(i)}""".stripMargin
    }.mkString(",\n")
    val profile = (0 to KcIters).map { i =>
      s"""SELECT $i AS round,
         |       (SELECT CAST(COALESCE(SUM(dd) // 2, 0) AS BIGINT) FROM d$i) AS n_edges,
         |       (SELECT COUNT(*) FROM d$i) AS n_vertices""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$EdgesSql,
       |e0 AS MATERIALIZED (SELECT u, v FROM edges),
       |${degOf(0)},
       |$rounds
       |SELECT * FROM (
       |$profile
       |) ORDER BY round""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "q_pagerank" -> pagerankSql,
    "q_label_prop" -> labelPropSql,
    "q_modularity" -> modularitySql,
    // The oracle walks the same forest with a depth-bounded recursive
    // CTE (per-step, fine for DuckDB); the Spark side resolves it in
    // log rounds — the hash match proves pointer doubling ≡ the walk.
    "q_hierarchy" ->
      """WITH RECURSIVE walk(node, cur, d) AS (
        |  SELECT o_orderkey, o_orderkey, 0 FROM orders
        |  UNION ALL
        |  SELECT node, cur // 16, d + 1 FROM walk WHERE cur >= 16)
        |SELECT d AS depth, COUNT(*) AS n_nodes
        |FROM (SELECT node, MAX(d) AS d FROM walk GROUP BY node)
        |GROUP BY d ORDER BY d""".stripMargin,
    "q_kcore" -> kcoreSql,
    // The oracle enumerates triangles in plain (u < v) id order — a
    // correct enumeration for DuckDB, which doesn't face the skew
    // bound the Spark side's degree orientation exists for; both
    // yield each triangle exactly once, so the per-edge credits agree.
    "q_graph_jaccard" ->
      s"""$EdgesSql,
         |tri AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM edges e1
         |  JOIN edges e2 ON e2.u = e1.v
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sup AS (
         |  SELECT u, v, COUNT(*) AS cn FROM (
         |    SELECT x AS u, y AS v FROM tri
         |    UNION ALL SELECT y, z FROM tri
         |    UNION ALL SELECT x, z FROM tri)
         |  GROUP BY u, v)
         |SELECT e.u, e.v, COALESCE(sup.cn, 0) AS cn,
         |       ${Det.r4Sql(
              "CAST(COALESCE(sup.cn, 0) AS DOUBLE) / (du.d + dv.d - COALESCE(sup.cn, 0))")} AS jaccard
         |FROM edges e
         |LEFT JOIN sup ON sup.u = e.u AND sup.v = e.v
         |JOIN deg du ON du.x = e.u
         |JOIN deg dv ON dv.x = e.v
         |ORDER BY jaccard DESC, e.u, e.v LIMIT 20""".stripMargin,
    "q_graph_triangles" ->
      s"""$EdgesSql
         |SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
         |       (SELECT COUNT(*) FROM deg) AS n_vertices,
         |       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
         |       n_triangles,
         |       ${Det.r4Sql("3.0 * n_triangles / (SELECT SUM(d * (d - 1) // 2) FROM deg)")} AS clustering
         |FROM (SELECT COUNT(*) AS n_triangles
         |      FROM edges e1
         |      JOIN edges e2 ON e2.u = e1.v
         |      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)""".stripMargin,
    // Bounded recursive walk: UNION-distinct on (v, d) pairs plus the
    // d < cap guard terminates despite cycles; MIN(d) per vertex is
    // the BFS hop distance because every ≤cap-hop path is enumerated.
    "q_graph_bfs" ->
      s"""${EdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dir AS (SELECT u AS src, v AS dst FROM edges
         |        UNION ALL SELECT v AS src, u AS dst FROM edges),
         |walk(v, d) AS (
         |  SELECT MIN(u), 0 FROM edges
         |  UNION
         |  SELECT dir.dst, walk.d + 1
         |  FROM walk JOIN dir ON dir.src = walk.v
         |  WHERE walk.d < $BfsMaxHops)
         |SELECT d AS hops, COUNT(*) AS n_vertices
         |FROM (SELECT v, MIN(d) AS d FROM walk GROUP BY v)
         |GROUP BY d ORDER BY d""".stripMargin,
  )
}
