package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Fixed-iteration PageRank over an undirected graph, DataFrame-native —
  * the graph-centrality companion to the identity-graph machinery
  * ([[Dedup.connectedComponents]] already does min-label propagation over
  * near-dup graphs; UR resolves anon↔user components, ref
  * `webapps/console/lib/server/user-recognition.ts` — centrality is the
  * natural next question a warehouse asks of the same edge tables:
  * which suppliers/customers/devices are hubs).
  *
  * Pregel re-expressed as declarative joins, one round per iteration:
  *   msgs  = edges ⋈ ranks ⋈ deg   (contribution r(u)/deg(u) per edge)
  *   ranks = (1-d) + d · Σ msgs     (hash aggregation by dst)
  *
  * Scale shape: the directed edge list (each undirected edge doubled) is
  * repartitioned ON src ONCE and persisted — every iteration's join
  * then reuses that partitioning and only the node-sized rank table
  * shuffles per round. Every loop here runs through [[Iterate]]: one
  * eager checkpoint per round truncates lineage (iteration N's plan must
  * not replay iterations 1..N-1) and frees the previous round's blocks,
  * and the persisted edge frames are released when the loop ends. Its
  * scaladoc carries the FAULT-TOLERANCE TRADE of those checkpoints, which
  * also covers the one-shot `localCheckpoint(true)` calls in this file.
  * Damping keeps the fixed point contracting, so a FIXED iteration
  * count (deterministic, engine-replayable — an unrolled-CTE oracle can
  * reproduce every round's IEEE arithmetic) is also the production
  * shape: rank pipelines run a known round budget, not convergence
  * polling.
  *
  * `edges`: (src, dst) DISTINCT undirected pairs. Returns (v, r). */
object Graph {

  /** The shared prelude of every fixed-iteration loop in this file:
    * the undirected edge list doubled into both orientations,
    * repartitioned ON `src` once, and PERSISTED — so each round's
    * edge-side join reuses the partitioning and only node-sized
    * frames shuffle per round. The doubling is `inline(array(e, eᵀ))`
    * — ONE generator over one scan — not a self-union: a union's two
    * arms each re-evaluate the upstream edge derivation (typically a
    * join + distinct over the fact table), doubling the most
    * expensive stage of every graph job for no semantic difference
    * (same multiset; both orientations of a row fan out from the
    * same input row). Ownership contract: the CALLER releases it (as
    * an [[Iterate]] static, or in its own `finally`). */
  private def directedEdges(edges: DataFrame,
                            dedup: Boolean = false): DataFrame =
    doubled(edges, dedup).repartition(col("src")).persist()

  /** The doubling alone (pre-repartition/persist) — split out so plan
    * audits/specs can pin the one-scan claim. */
  private[graft] def doubled(edges: DataFrame,
                             dedup: Boolean = false): DataFrame = {
    val d = edges.select(inline(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))))
    if (dedup) d.distinct() else d
  }

  def pageRank(edges: DataFrame, iterations: Int = 3,
               damping: Double = 0.85): DataFrame = {
    val dir = directedEdges(edges)
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist()
    // contribution edge list with the degree folded in: r/deg joins on
    // src each round, so pre-joining deg once removes a per-iteration
    // join (deg is static)
    val withDeg = dir.join(deg, "src").persist()
    Iterate(deg.select(col("src").as("v"), lit(1.0).as("r")), iterations,
      Seq(dir, deg, withDeg)) { ranks =>
      withDeg
        .join(ranks, withDeg("src") === ranks("v"))
        .select(col("dst"), (col("r") / col("deg")).as("m"))
        .groupBy(col("dst"))
        .agg((lit(1.0 - damping) + lit(damping) * sum(col("m"))).as("r"))
        .select(col("dst").as("v"), col("r"))
    }
  }

  /** Edge-WEIGHTED PageRank — [[pageRank]] with per-edge multiplicity
    * (co-purchase counts, interaction frequencies) instead of the
    * plain adjacency: each round distributes r(u)·w(u,v)/Σw(u,·).
    * Weights must be INTEGER-VALUED (long) — the out-mass Σw is then
    * an exact long (no float summation-order nondeterminism in the
    * static denominators), and each round's only float work is the
    * damped sum the unrolled-CTE oracle replays like g1_pagerank.
    * `edges`: (src, dst, w) distinct undirected pairs with w ≥ 1.
    * Returns (v, r).
    *
    * Scale shape: identical to [[pageRank]] — the weighted edge list
    * is repartitioned on src once and persisted with the out-mass
    * folded in; per round only the node-sized rank table shuffles. */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 3,
                       damping: Double = 0.85): DataFrame = {
    // single-generator doubling (see directedEdges): one upstream
    // evaluation, not one per union arm
    val dir = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .select(inline(array(
        struct(col("src"), col("dst"), col("w")),
        struct(col("dst").as("src"), col("src").as("dst"), col("w")))))
      .repartition(col("src"))
      .persist()
    val wout = dir.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      .persist()
    val withW = dir.join(wout, "src").persist()
    Iterate(wout.select(col("src").as("v"), lit(1.0).as("r")), iterations,
      Seq(dir, wout, withW)) { ranks =>
      withW
        .join(ranks, withW("src") === ranks("v"))
        .select(col("dst"),
          (col("r") * col("w") / col("wout")).as("m"))
        .groupBy(col("dst"))
        .agg((lit(1.0 - damping) + lit(damping) * sum(col("m")))
          .as("r"))
        .select(col("dst").as("v"), col("r"))
    }
  }

  /** Per-node triangle participation counts over an undirected graph —
    * the clustering/cohesion metric next to [[pageRank]]'s centrality
    * (each triangle {x,y,z} increments all three nodes).
    *
    * The distributed node-iterator++ shape (Suri & Vassilvitskii 2011):
    * impose the total order π(v) = (deg(v), v) and orient every edge
    * from its π-smaller endpoint, so each triangle is discovered exactly
    * once — at its lowest-degree vertex. Wedges are then pairs of
    * out-edges of the SAME low vertex, which bounds the shuffled
    * intermediate by Σ_e min-deg(e) = O(m^{3/2}) instead of the
    * Σ deg² blow-up a hub vertex causes under naive id-ordering: the
    * 100 TB skew story, since real co-occurrence graphs are power-law.
    * Three hash joins + one hash aggregation; edges carry ids only.
    *
    * `edges`: distinct undirected (src, dst) pairs, src ≠ dst.
    * Returns (v, n_triangles) for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val dir = directedEdges(edges)
    try triangleCountsFromDir(dir)
    finally dir.unpersist(false)
  }

  /** [[triangleCounts]] over a caller-built [[directedEdges]] prelude —
    * lets [[clusteringCoefficient]] share ONE doubled/persisted edge
    * list between its degree aggregation and the triangle pipeline
    * instead of building (and paying the upstream edge derivation
    * for) two. The caller owns `dir`'s unpersist; the returned frame
    * is safe to consume after it (the oriented edge list is eagerly
    * checkpointed here, so nothing downstream re-reads `dir`). */
  private def triangleCountsFromDir(dir: DataFrame): DataFrame = {
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("v"), col("deg"))
    def ord(d: Column, id: Column): Column = struct(d, id)
    // orient each edge low→high under π = (deg, id); keep the head's
    // order key so wedge endpoints can be ordered without a re-join
    val oriented = dir
      .join(deg.select(col("v").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(ord(col("sdeg"), col("src")) < ord(col("ddeg"), col("dst")))
      .select(col("src").as("a"), col("dst").as("b"),
        ord(col("ddeg"), col("dst")).as("ob"))
      // the oriented edge list feeds THREE plan branches (both wedge
      // sides + the closing probe); eager localCheckpoint materializes
      // it once and truncates the degree-join lineage, with storage
      // released by GC instead of caller-side unpersist bookkeeping
      .localCheckpoint(true)
    val e1 = oriented.select(col("a"), col("b").as("x"), col("ob").as("ox"))
    val e2 = oriented.select(col("a"), col("b").as("y"), col("ob").as("oy"))
    // wedges at the low vertex: unordered out-edge pairs, ordered by π
    // so the closing edge (x→y) is probed in its oriented direction
    val wedges = e1.join(e2, Seq("a")).filter(col("ox") < col("oy"))
      .select(col("a"), col("x"), col("y"))
    val closing = oriented.select(col("a").as("x"), col("b").as("y"))
    val tris = wedges.join(closing, Seq("x", "y"))
      .select(col("a"), col("x"), col("y"))
    tris.select(explode(array(col("a"), col("x"), col("y"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998) —
    * "how interconnected is each node's neighborhood?": c(v) =
    * 2·T(v) / (d(v)·(d(v)−1)) for nodes with degree ≥ 2, in exact
    * integer micros (floored division — replayable cross-engine).
    * The cohesion audit next to [[triangleCounts]]'s raw counts: a
    * crawl/identity graph whose coefficient distribution shifts has
    * changed local structure even when degrees look stable.
    *
    * Scale shape: one degree aggregation over the shared
    * [[directedEdges]] prelude plus the [[triangleCounts]] pipeline
    * (O(m^{3/2})-bounded wedge join), joined node-to-node — no new
    * shuffle classes. Nodes in no triangle still emit (coeff 0);
    * degree-1 nodes emit NULL (the coefficient is undefined).
    * Returns (v, deg, n_triangles, coeff_micro). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val dir = directedEdges(edges)
    val deg = dir.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    // share the ONE doubled/persisted edge list with the triangle
    // pipeline instead of letting triangleCounts rebuild it (which
    // re-ran the upstream edge derivation a second time)
    val tri = triangleCountsFromDir(dir)
    try deg
      .join(tri, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_micro", expr(
        "CASE WHEN deg >= 2 THEN " +
          "2L * n_triangles * 1000000L div (deg * (deg - 1L)) END"))
      .localCheckpoint(true)
    finally dir.unpersist(false)
  }

  /** Community detection by SYNCHRONOUS label propagation (Raghavan
    * 2007) with a FIXED round budget and a deterministic tie-break —
    * the same design bargain as [[pageRank]]: asynchronous LPA with
    * random tie-breaks converges faster in papers, but a fixed-round
    * synchronous sweep with (count desc, label asc) ties is
    * deterministic, replayable by an oracle as unrolled SQL, and the
    * production shape anyway (community jobs budget rounds).
    *
    * Each round, every node adopts the most frequent label among its
    * NEIGHBORS (ties to the smallest label); labels start as node ids.
    * Contrast [[graft.operators.Dedup.connectedComponents]]: CC merges
    * everything reachable, LPA finds dense regions — a bridge edge
    * joins two components but usually not two communities.
    *
    * Scale shape mirrors pageRank: the undirected edge list is
    * partitioned on src once and persisted; each round shuffles only
    * the node-sized label table plus per-(node, label) counts; the
    * per-node argmax compiles to one window over those counts.
    * Returns (v, community). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dir = directedEdges(edges, dedup = true)
    val w = Window.partitionBy(col("src")).orderBy(col("n").desc, col("lbl"))
    Iterate(dir.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")), rounds, Seq(dir)) { labels =>
      dir.join(labels, dir("dst") === labels("v"))
        .groupBy(dir("src"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("src").as("v"), col("lbl"))
    }.withColumnRenamed("lbl", "community")
  }

  /** Multi-source BFS hop distances over an undirected graph: the
    * blast-radius / influence-horizon query ("every vertex within
    * `maxHops` of the seed set, and how far") — GDPR contact-tracing
    * over identity graphs, fraud-ring proximity, cold-start seeding.
    * Deterministic min-hop label propagation, one round per hop:
    *   dist ← min(dist, min over in-neighbors(dist(u) + 1))
    * Vertices unreached within maxHops are absent (the caller
    * left-joins the vertex set if it wants explicit unreached rows).
    * Returns (v, dist) with dist ∈ [0, maxHops].
    *
    * Scale shape mirrors [[pageRank]]: the doubled edge list is
    * repartitioned on src once and persisted; each round shuffles only
    * the reached-vertex frame (which only grows by the new frontier),
    * aggregated by min. Rounds are FIXED (maxHops), so an unrolled-CTE
    * oracle replays every round; [[Iterate]]'s per-round checkpoint
    * truncates lineage exactly like the other fixed-iteration graph
    * ops. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32, "maxHops must be in [1, 32]")
    val dir = directedEdges(edges, dedup = true)
    Iterate(seeds.select(col("v")).distinct().withColumn("dist", lit(0L)),
      maxHops, Seq(dir)) { dist =>
      dist
        .unionByName(
          dir.join(dist, dir("src") === dist("v"))
            .select(dir("dst").as("v"), (col("dist") + 1L).as("dist")))
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }
  }

  /** Personalized PageRank (Haveliwala 2002) — centrality RELATIVE TO
    * a seed set: the restart mass goes only to seeds, so scores read
    * as "how reachable is v from the things I care about". The
    * recommendation/expansion primitive next to [[pageRank]]'s global
    * centrality (seed a user's purchases, rank the rest of the
    * graph). Same fixed-iteration damped loop, same undirected
    * doubling; a fixed `iterations` run replays as unrolled SQL
    * (the g1_pagerank precedent). Nodes carrying zero mass emit no
    * row. Returns (v, r) — round for display at the gate.
    *
    * Scale shape: identical to [[pageRank]] — edges partitioned once,
    * per-round node-sized rank shuffles; the seed indicator is a
    * node-keyed equi-join, broadcast when small. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      "iterations must be in [1, 16]")
    val dir = directedEdges(edges)
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist()
    val withDeg = dir.join(deg, "src").persist()
    val seed = seeds.select(col("v")).distinct().persist()
    // restart mass as UNION rows, not a per-round join: see pprRound
    val seedMass = seed.select(col("v"), lit(0.0).as("m"),
      lit(1.0).as("_s"))
    Iterate(seed.withColumn("r", lit(1.0)), iterations,
      Seq(dir, deg, withDeg, seed)) { ranks =>
      pprRound(withDeg, ranks, seedMass, damping)
    }
  }

  /** One personalizedPageRank round. The restart mass arrives as seed
    * ROWS (v, m=0, _s=1) unioned into the contribution aggregation, so
    * r(v) = (1-d)·Σ_s + d·Σ_m comes out of the SINGLE hash aggregate —
    * the pre-r17 shape joined the aggregated contributions FULL OUTER
    * against the seed table every round, which cost an extra Exchange +
    * sort per round (full_outer cannot broadcast; the seed side
    * re-shuffled each iteration). Same arithmetic: the union arms add
    * only +0.0 terms to the opposite sums, which IEEE addition leaves
    * exact; a v with no contributions sums m over {0.0} = 0.0, exactly
    * coalesce(_in, 0.0) of the join form. Split out so `Inspect plans
    * g9_ppr_round` can dump the round-body plan (the loop's final frame
    * is a checkpoint scan and shows nothing).
    */
  private[graft] def pprRound(withDeg: DataFrame, ranks: DataFrame,
                              seedMass: DataFrame,
                              damping: Double): DataFrame =
    withDeg
      .join(ranks, withDeg("src") === ranks("v"))
      .select(col("dst").as("v"), (col("r") / col("deg")).as("m"),
        lit(0.0).as("_s"))
      .unionByName(seedMass)
      .groupBy(col("v"))
      .agg(sum(col("m")).as("_in"), sum(col("_s")).as("_sd"))
      .select(col("v"),
        (lit(1.0 - damping) * col("_sd") +
          lit(damping) * col("_in")).as("r"))
      .filter(col("r") > 0.0)

  /** HITS hubs and authorities (Kleinberg 1999) over a DIRECTED edge
    * set — the bipartite-credit companion to [[pageRank]]: a good hub
    * points at good authorities and vice versa. Fixed `iterations`
    * mutual-recursion rounds with MAX-normalization after each half
    * step (a per-round scalar divide — replayable, unlike the L2 norm
    * whose √ would compound float error), so the run unrolls into
    * plain SQL like g1_pagerank. Returns the final hub and authority
    * score per node (FULL OUTER of the two sides — a pure source has
    * no authority row and vice versa); round for display at the gate.
    *
    * Scale shape: the two half-steps join on `src` THEN on `dst`, so
    * the edge list is kept as TWO persisted copies — partitioned by
    * src and by dst — and neither half-step re-shuffles edges per
    * round (only the node-sized score tables move, the [[pageRank]]
    * discipline). One [[Iterate]] round is one HALF-step, and its
    * state is that half-step's unnormalized sums `s`: the
    * broadcast-max normalize references them TWICE (once feeding the
    * 1-row max, once feeding the divide), so it runs lazily over the
    * checkpointed sums in the next half-step. Without a checkpoint per
    * half-step that duplication compounds into a 4^k logical plan (and
    * re-runs every edge-join aggregation once per reference). A hub
    * half-step also carries the authorities it read, as union rows
    * (v, s = NULL, auth), so the last round holds both scores; one
    * aggregation by v at the end pairs them up (the FULL OUTER). */
  def hits(edges: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 8,
      "iterations must be in [1, 8]")
    // materialize the upstream edge derivation ONCE (it is typically a
    // join + distinct over the fact table) before fanning out into the
    // two partitioned copies — otherwise each repartition re-runs it
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val eBySrc = e.repartition(col("src")).persist()
    val eByDst = e.repartition(col("dst")).persist()
    def withMax(sums: DataFrame): DataFrame =
      sums.crossJoin(broadcast(sums.agg(max(col("s")).as("m"))))
    // the init state reads as a hub half-step's output: hub sums of 1.0
    // (normalize to exactly 1.0) and no authorities yet
    val last = Iterate(eBySrc.select(col("src").as("v")).distinct()
        .select(col("v"), lit(1.0).as("s"), lit(null).cast("double").as("auth")),
      2 * iterations, Seq(e, eBySrc, eByDst)) { state =>
      val r = withMax(state.filter(col("s").isNotNull))
        .select(col("v"), (col("s") / col("m")).as("r"))
      if (state.columns.contains("auth")) // hub sums in: authority half-step
        eBySrc.join(r, eBySrc("src") === r("v"))
          .groupBy(eBySrc("dst").as("v")).agg(sum(col("r")).as("s"))
      else // authority sums in: hub half-step, carrying the authorities
        eByDst.join(r.withColumnRenamed("v", "_av"), eByDst("dst") === col("_av"))
          .groupBy(eByDst("src").as("v")).agg(sum(col("r")).as("s"))
          .withColumn("auth", lit(null).cast("double"))
          .unionByName(r.select(col("v"), lit(null).cast("double").as("s"),
            col("r").as("auth")))
    }
    // each v has at most one hub row and one authority row: max() of a
    // single non-null value is that value
    withMax(last).groupBy(col("v"))
      .agg(max(col("s") / col("m")).as("hub"), max(col("auth")).as("auth"))
  }

  /** Two-hop reach / bounded harmonic centrality — "how much of the
    * graph does v touch within two hops?": n1 = |N1(v)| direct
    * neighbors, n2 = |N2(v)| nodes at distance EXACTLY 2, and the
    * harmonic score Σ 1/d truncated at radius 2 in exact micros
    * (h2_micro = n1·10⁶ + n2·5·10⁵ — reciprocals of 1 and 2 are
    * exact, no transcendental). The influence/coverage audit between
    * [[triangleCounts]]' closed wedges and [[bfsDistances]]' seeded
    * horizons. Returns (v, n1, n2, h2_micro).
    *
    * Scale shape: one degree aggregation + one wedge self-join with
    * a distinct and an anti-join back to the edge set. The wedge
    * stage is Σ deg² — a power-law hub makes that the dominant term
    * (the price of EXACT 2-hop sets; the sketch alternative is an HLL
    * per frontier, traded away here for oracle replayability). */
  def twoHopReach(edges: DataFrame): DataFrame = {
    val dir = directedEdges(edges, dedup = true)
    try {
      val n1 = dir.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("n1"))
      val hop2 = dir.as("e1")
        .join(dir.as("e2"), col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("v"), col("e2.dst").as("u"))
        .filter(col("v") =!= col("u"))
        .distinct()
        .join(dir.select(col("src").as("v"), col("dst").as("u")),
          Seq("v", "u"), "left_anti")
        .groupBy(col("v")).agg(count(lit(1)).as("n2"))
      n1.join(hop2, Seq("v"), "left")
        .select(col("v"), col("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
        .withColumn("h2_micro",
          col("n1") * 1000000L + col("n2") * 500000L)
        .localCheckpoint(true)
    } finally { dir.unpersist(false); () }
  }

  /** Bounded k-core peel (Seidman 1983) — the dense-backbone filter
    * next to [[labelPropagation]]'s communities: repeatedly remove
    * nodes of degree < k; what survives is the k-core, the region
    * where every member keeps ≥ k neighbors INSIDE the surviving set.
    * The peel runs a FIXED `rounds` budget (the [[pageRank]] design
    * bargain: an unrolled-CTE oracle replays every round; graphs
    * whose low-degree fringe is shallow — most real ones — converge
    * well inside it) and reports whether the last round was a
    * FIXPOINT, so a non-converged run is loud, never silent. Returns
    * (v, core_deg, converged) for surviving nodes.
    *
    * Scale shape: per round one degree aggregation over the
    * surviving-edge frame + one join back — the edge frame only
    * shrinks; the shared [[directedEdges]] prelude partitions it on
    * src once. A round keeps the edges it removes one round longer,
    * flagged `_ok = false`: their count is the round's [[Iterate]]
    * convergence value, read from the round's own checkpoint, and the
    * next round drops them before it counts degrees. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16]")
    val dir0 = directedEdges(edges, dedup = true)
    val (last, removed) = Iterate.untilStable(
        dir0.withColumn("_ok", lit(true)), rounds, Seq(dir0),
        changed = sum(when(col("_ok"), 0L).otherwise(1L))) { prev =>
      val cur = prev.filter(col("_ok")).select(col("src"), col("dst"))
      val ok = cur.groupBy(col("src")).agg((count(lit(1)) >= k).as("_ok"))
      cur.join(ok.withColumnRenamed("_ok", "_sok"), Seq("src"))
        .join(ok.select(col("src").as("dst"), col("_ok").as("_dok")),
          Seq("dst"))
        .select(col("src"), col("dst"), (col("_sok") && col("_dok")).as("_ok"))
        .repartition(col("src"))
    }
    last.filter(col("_ok"))
      .groupBy(col("src").as("v")).agg(count(lit(1)).as("core_deg"))
      .withColumn("converged", lit(removed == 0L))
  }

  /** Degree assortativity of an undirected graph (Newman 2002) — "do
    * hubs connect to hubs?": the Pearson correlation between the
    * endpoint degrees over the DIRECTED edge list (each undirected
    * edge counted in both orientations, the standard convention), in
    * exact integer micros via the sums-of-products form with
    * floor(sqrt) denominators (the [[graft.operators.TimeSeries
    * .autocorrelation]] discipline; exact cross-engine while the
    * radicands stay < 2⁵²). Social/co-occurrence graphs are typically
    * disassortative (r < 0) — a crawl graph that suddenly isn't has
    * changed shape. One row out: (n_edges_directed, r_micro); NULL
    * when degrees are constant (a regular graph has no signal).
    *
    * Scale shape: one degree aggregation, two degree equi-joins back
    * to the PERSISTED doubled edge list (three consumers — the degree
    * agg and both joins — so the prelude is cached, not rebuilt), one
    * scan-shaped global aggregate — no window, no collect. The 1-row
    * result is eagerly materialized so both caches release here. */
  def assortativity(edges: DataFrame): DataFrame = {
    val dir = directedEdges(edges)
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist()
    try dir
      .join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("y")),
        Seq("dst"))
      .agg(count(lit(1)).as("n_edges_directed"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .withColumn("_num", expr(
        "CAST(n_edges_directed AS DECIMAL(38,0)) * sxy " +
          "- CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("_dx", expr(
        "CAST(CAST(n_edges_directed AS DECIMAL(38,0)) * sxx " +
          "- CAST(sx AS DECIMAL(38,0)) * sx AS LONG)"))
      .withColumn("_dy", expr(
        "CAST(CAST(n_edges_directed AS DECIMAL(38,0)) * syy " +
          "- CAST(sy AS DECIMAL(38,0)) * sy AS LONG)"))
      .withColumn("_den",
        floor(sqrt(col("_dx"))).cast("long") *
          floor(sqrt(col("_dy"))).cast("long"))
      // floor(sqrt) can understate the denominator; clamp to the
      // Pearson bound (same discipline as TimeSeries.autocorrelation)
      .withColumn("r_micro", expr(
        "CASE WHEN _den > 0 THEN GREATEST(-1000000L, " +
          "LEAST(1000000L, CASE WHEN _num >= 0 " +
          "THEN CAST(_num * 1000000 div _den AS LONG) " +
          "ELSE -CAST((-_num) * 1000000 div _den AS LONG) END)) END"))
      .select(col("n_edges_directed"), col("r_micro"))
      .localCheckpoint(true)
    finally { dir.unpersist(false); deg.unpersist(false) }
  }
}
