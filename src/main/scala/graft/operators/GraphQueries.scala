package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative / combinatorial graph analytics over the part
  * co-occurrence graph (parts are connected when they ship in the same
  * order) — the family q_graph_bfs opened in round 14, completed here
  * with the canonical second and third operators: exact triangle
  * counting and PageRank. Reference justification: the LLM-pipeline
  * brief's graph-analysis family (link/citation graphs over training
  * corpora); the reference itself has no graph surface
  * (`core/analytics.py` stops at tabular stats), so these are
  * beyond-parity operators in the 100 TB posture.
  *
  * Both operators are EXACT-INTEGER end to end, so the full outputs
  * hash-check against DuckDB re-derivations.
  */
object GraphQueries extends QueryModule {

  /** Undirected co-occurrence pairs (u < v), ONE row per order that
    * co-ships the pair — the shared map-side basket expansion behind
    * [[coEdges]] (distinct) and the weighted PageRank (multiplicity =
    * edge weight). STREAMED (round-16): two chained generators —
    * `posexplode` picks each left element, `explode(slice(...))` walks
    * its strict successors in the sorted basket — so per-row memory is
    * O(d) at any basket width. The round-15 form built the full
    * d²-struct pair array in ONE row via `flatten(transform×transform)`
    * before the explode; bounded on this schema (≤7 lineitems/order)
    * but an executor OOM on the power-law "baskets" (citation lists,
    * link pages) the graph family exists for — a 10⁵-member basket is
    * a 10¹⁰-struct single row. The shuffle still carries candidate
    * pairs, never a quadratic join residual.
    */
  private[graft] def coPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .groupBy("okey").agg(array_sort(collect_set(col("pk"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("u"),
        explode(slice(col("ps"), col("pos") + lit(2), size(col("ps"))))
          .as("v"))

  /** WEIGHTED undirected co-occurrence edges (u < v, multiplicity =
    * co-shipping order count) — the ONE materialized graph derivation
    * of the whole family, session-cached and pinned (the topkBatch
    * precedent): a real deployment derives the graph once and
    * persists it, not once per analytic. The grouped frame is
    * distinct by construction, so [[coEdges]] is a projection of it —
    * the weighted PageRank and every unweighted consumer (triangles,
    * communities, k-core, clustering, link prediction, assortativity,
    * the vertex sets) share this single corpus expansion. The first
    * consumer in a session pays the corpus scan + aggregation; every
    * later entry reads the pinned |E|-row frame.
    */
  private[operators] def coWeighted(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-cowedges|$d") {
      val e = graft.Checkpoint.pin(
        coPairs(s, d).groupBy("u", "v").agg(count(lit(1)).as("w")))
      (e, Seq(e))
    }

  /** Distinct undirected co-occurrence edges (u < v) — the unweighted
    * projection of [[coWeighted]]. The distinct IS needed semantically
    * (triangle wedges and the unweighted PageRank contributions would
    * otherwise double-count multi-order edges); it comes free from
    * the grouped frame. Cached as its own pinned frame (one |E|-row
    * copy per session) so every kernel's [[graft.Checkpoint.ensurePinned]]
    * sees an already-pinned input instead of re-copying per entry.
    */
  private[operators] def coEdges(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-coedges|$d") {
      val e = graft.Checkpoint.pin(coWeighted(s, d).select("u", "v"))
      (e, Seq(e))
    }

  /** SYMMETRIC directed projection of [[coEdges]] (both (u→v) and
    * (v→u) per undirected edge) — the 2|E|-row frame every
    * neighbor-walk kernel starts from. Round-16 optimization: five
    * entries (pagerank, communities, assortativity, link prediction,
    * BFS) each derived AND pinned their own copy per call — five
    * localCheckpoint jobs over 2|E| rows per bench pass for literally
    * the same rows. One session-pinned copy, every consumer reads
    * blocks (the coEdges precedent, one derivation level up).
    */
  private[operators] def symEdges(s: SparkSession, d: String): DataFrame =
    symEdgesWeighted(s, d).select("src", "dst")

  /** The pinned symmetric frame CARRIES the co-occurrence weight —
    * it is [[coWeighted]] symmetrized, so the weighted PageRank reads
    * the same shared pin (one extra long per row for the unweighted
    * consumers' projections, instead of a second 2|E|-row copy).
    */
  private[operators] def symEdgesWeighted(s: SparkSession,
      d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-symedges|$d") {
      val und = coWeighted(s, d)
      val ed = graft.Checkpoint.pin(
        und.select(col("u").as("src"), col("v").as("dst"), col("w"))
          .unionByName(
            und.select(col("v").as("src"), col("u").as("dst"), col("w"))))
      (ed, Seq(ed))
    }

  /** Full (unweighted) vertex degrees over [[coEdges]] — the |V|-row
    * (pk, dg) frame consumed by the triangle orientation, k-core's
    * round-1 threshold, clustering's denominator, link prediction's
    * center cut and Jaccard denominators, assortativity's endpoint
    * attach, and PageRank's out-degree (symmetric graph ⇒ outdeg =
    * degree). Round-16 optimization: each of those re-aggregated the
    * 2|E|-row endpoint union per call; now one session-pinned copy.
    */
  private[operators] def degFrame(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-degrees|$d") {
      val e = coEdges(s, d)
      val deg = graft.Checkpoint.pin(
        e.select(col("u").as("pk")).unionByName(e.select(col("v").as("pk")))
          .groupBy("pk").agg(count(lit(1)).as("dg")))
      (deg, Seq(deg))
    }

  /** Exact per-part triangle counts — the degree-ordered oriented
    * wedge join (the "compact-forward" shape): every undirected edge
    * is oriented from its lower-(degree, id) endpoint to the higher
    * one, wedges are built by ONE equi-self-join of the oriented list
    * on the shared source, and each wedge closes iff its (ordered)
    * far pair is itself an oriented edge — one membership semi-join.
    * Orientation is what makes this the 100 TB shape: a hub's wedges
    * are built only from its few LOWER-ordered neighbors (out-degree
    * is O(√E) after orientation), so the wedge join never explodes
    * around power-law hubs the way the naive unoriented self-join
    * does. Each triangle is found exactly once (apex = its
    * minimum-order vertex) and credited to all three corners.
    */
  private def graphTriangles(s: SparkSession, d: String): DataFrame =
    sharedTriangles(s, d)

  /** Session-cached per-vertex triangle counts over the shared edge
    * frame — the wedge join is the family's most expensive kernel and
    * BOTH q_graph_triangles and q_graph_clustering consume its output
    * (the coEdges/tfFrame precedent). |V|-row result, pinned.
    */
  private def sharedTriangles(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-tri|$d") {
      val t = graft.Checkpoint.pin(
        triangleCountsPinned(coEdges(s, d), Some(degFrame(s, d))))
      (t, Seq(t))
    }

  /** The oriented-wedge kernel over an undirected edge set (u < v per
    * row, distinct), exposed for the combinatorial spec (K4, paths,
    * hub stars). Pins: the edge set feeds the degree pass and the
    * orientation join (2 consumers), the oriented list feeds both
    * wedge legs and the membership probe (3 consumers) — each is
    * materialized once, |E|-bounded.
    */
  private[graft] def triangleCounts(eRaw: DataFrame): DataFrame =
    triangleCountsPinned(graft.Checkpoint.ensurePinned(eRaw))

  /** [[triangleCounts]] body over an ALREADY-pinned edge frame, so
    * callers that pin the edge set for their own joins (the
    * clustering-coefficient entry reads it for degrees too) don't pay
    * a second localCheckpoint job over |E| rows. `degShared` lets the
    * driver path hand in the session-pinned [[degFrame]] instead of
    * re-aggregating the 2|E| endpoint union.
    */
  private def triangleCountsPinned(e: DataFrame,
      degShared: Option[DataFrame] = None): DataFrame = {
    val deg = degShared.getOrElse(e.select(col("u").as("pk"))
      .unionByName(e.select(col("v").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("dg")))
    // Total orientation order: (degree, id) — acyclic by construction,
    // so the oriented edge list is a DAG and every triangle has a
    // unique minimum (apex).
    val before = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = graft.Checkpoint.pin(
      e.join(deg.select(col("pk").as("u"), col("dg").as("du")), Seq("u"))
        .join(deg.select(col("pk").as("v"), col("dg").as("dv")), Seq("v"))
        .select(
          when(before, col("u")).otherwise(col("v")).as("src"),
          when(before, col("v")).otherwise(col("u")).as("dst"),
          when(before, col("dv")).otherwise(col("du")).as("ddg")))
    // EXPLICIT partition count on the wedge legs: AQE sizes the
    // exchange from the |E|-row input flowing through it and cannot
    // see the ~35x wedge fan-out above, so it coalesces the self-join
    // to a handful of tasks (the documented O(block²) trap). A
    // user-specified count is respected.
    val np = e.sparkSession.sparkContext.defaultParallelism
    val w1 = oriented.repartition(np, col("src"))
      .select(col("src"), col("dst").as("b"), col("ddg").as("bdg"))
    val w2 = oriented.repartition(np, col("src"))
      .select(col("src"), col("dst").as("c"), col("ddg").as("cdg"))
    // Wedge legs ordered by the SAME orientation order, so the far
    // pair (b, c) is probed exactly as the oriented edge (b -> c)
    // would have been written.
    // Project the ordering columns away BEFORE the membership
    // semi-join: the wedge frame is the biggest thing in the query
    // (~35x the edge list) and the closure probe only needs
    // (src, b, c) — slimming here is hundreds of MB off the shuffle
    // at sf0.1 and proportionally more at scale.
    val wedges = w1.join(w2, Seq("src"))
      .filter(col("bdg") < col("cdg") ||
        (col("bdg") === col("cdg") && col("b") < col("c")))
      .select(col("src"), col("b"), col("c"))
    val tri = wedges
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      .select(col("src").as("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("part_key"))
      .groupBy("part_key").agg(count(lit(1)).as("n_triangles"))
      .orderBy("part_key")
  }

  /** PageRank fixed-point arithmetic scale: ranks are BIGINT
    * multiples of 10⁻¹², so every step (div by out-degree, sum of
    * contributions, damping 85/100, teleport 15/100/N) is exact
    * integer arithmetic — order-independent, bit-identical in DuckDB
    * (`//`), no float fold discipline needed. The q_cusum_changepoint
    * scaled-integer trick applied to an iterative algorithm.
    */
  private val PrScale = 1000000000000L
  private val PrIters = 3

  /** PageRank (damping 0.85, [[PrIters]] iterations) over the
    * SYMMETRIC part co-occurrence graph. The vertex set is the edge
    * endpoints, so every vertex has out-degree ≥ 1 by construction —
    * no dangling-mass redistribution term. Each iteration is the
    * canonical distributed shape: one equi-join of the rank frame
    * against the pinned edge list, a map-side-combined contribution
    * sum per destination, and a |V|-row rebuild. Rank frames are NOT
    * pinned: with a small fixed iteration count and one terminal
    * action the whole chain executes once anyway, and each pin is a
    * localCheckpoint job that measured ~35% of the entry (the
    * shared ed/vtx frames, read every iteration, ARE pinned). A
    * long-horizon variant (tens of iterations) should pin every few
    * rounds to bound plan depth — the BFS per-level pattern.
    * Integer floor-division everywhere (see [[PrScale]]) keeps the
    * full |V|-row labeling hash-checkable against DuckDB's unrolled
    * CTE — both engines compute literally the same longs.
    */
  private def graphPagerank(s: SparkSession, d: String): DataFrame = {
    // Shared session frames (round-16): the symmetric edge list and
    // the degree frame are the family-wide pinned artifacts — on the
    // symmetric graph outdeg IS the full degree, so the contribution
    // join reads [[degFrame]] renamed instead of re-aggregating and
    // re-pinning 2|E| rows per call.
    val ed = symEdges(s, d)
    val vtx = degFrame(s, d)
      .select(col("pk").as("src"), col("dg").as("outdeg"))
    // |V| is the one driver-side scalar (a 1-row count, the same
    // budget class as the BFS seed).
    val n = vtx.count()
    require(n > 0, "pagerank: empty co-occurrence graph")
    val teleport = (PrScale * 15L / 100L) / n
    var rank =
      vtx.select(col("src").as("pk"), lit(PrScale / n).as("r"))
    for (_ <- 1 to PrIters) {
      // Per-source share FIRST (round-16 optimization): r div outdeg
      // depends only on src, so it is computed on the |V|-row
      // rank⋈vtx frame and attached to the 2|E|-row edge frame in ONE
      // join — the previous shape joined ed against vtx AND rank
      // separately, two |E|-scale joins per iteration for the same
      // integer share per edge (guide §2.3: shuffle/probe fewer bytes;
      // the per-edge value is identical, so the contribution sums are
      // bit-equal).
      val share = rank
        .join(vtx.withColumnRenamed("src", "pk"), Seq("pk"))
        .select(col("pk").as("src"), expr("r div outdeg").as("w"))
      val contrib = ed.join(share, Seq("src"))
        .groupBy("dst").agg(sum(col("w")).as("c"))
      rank = vtx.select(col("src").as("pk"))
        .join(contrib.withColumnRenamed("dst", "pk"), Seq("pk"), "left")
        .select(col("pk"),
          (lit(teleport) + expr("(85 * coalesce(c, 0L)) div 100"))
            .as("r"))
    }
    rank.select(col("pk").as("part_key"), col("r").as("rank_scaled"))
      .orderBy("part_key")
  }

  /** WEIGHTED PageRank (round-16 verdict item 3) — the variant every
    * real citation/link graph needs: edge weight = co-occurrence
    * multiplicity (how many orders co-ship the pair — [[coPairs]]
    * WITHOUT the distinct), a vertex's strength is its weighted
    * degree, and each neighbor receives `(w·r) div strength` — the
    * same BIGINT fixed-point discipline as the unweighted entry, so
    * the full |V|-row labeling stays hash-checkable against DuckDB's
    * unrolled CTE. Overflow budget: the per-term product w·r needs
    * w·PrScale < 2⁶³, i.e. multiplicity below ~9.2×10⁶ per edge —
    * generous for co-citation counts (here ≤ orders per pair ≈ 10²);
    * a corpus beyond that drops PrScale a decade, same discipline as
    * the topics entry's 10⁴ scale.
    */
  private def graphPagerankWeighted(s: SparkSession, d: String): DataFrame = {
    // The shared pinned symmetric frame carries the weight (round-16)
    // — only the |V|-row strength frame is still derived (and pinned:
    // the contribution join reads it every iteration) per call.
    val ed = symEdgesWeighted(s, d)
    val vtx = strengthFrame(s, d)
    val n = vtx.count()
    require(n > 0, "weighted pagerank: empty co-occurrence graph")
    val teleport = (PrScale * 15L / 100L) / n
    var rank =
      vtx.select(col("src").as("pk"), lit(PrScale / n).as("r"))
    for (_ <- 1 to PrIters) {
      // (r, strength) attached to the 2|E|-row frame in ONE join off
      // the |V|-row rank⋈vtx pre-combine (the unweighted entry's
      // round-16 shape; the weighted share (w·r) div strength needs w
      // per edge, so the division itself stays edge-side — same longs).
      val rs = rank
        .join(vtx.withColumnRenamed("src", "pk"), Seq("pk"))
        .select(col("pk").as("src"), col("r"), col("strength"))
      val contrib = ed.join(rs, Seq("src"))
        .select(col("dst"), expr("(w * r) div strength").as("cw"))
        .groupBy("dst").agg(sum(col("cw")).as("c"))
      rank = vtx.select(col("src").as("pk"))
        .join(contrib.withColumnRenamed("dst", "pk"), Seq("pk"), "left")
        .select(col("pk"),
          (lit(teleport) + expr("(85 * coalesce(c, 0L)) div 100"))
            .as("r"))
    }
    rank.select(col("pk").as("part_key"), col("r").as("rank_scaled"))
      .orderBy("part_key")
  }

  /** Session-pinned weighted-degree (strength) frame over
    * [[symEdgesWeighted]] — the weighted analog of [[degFrame]],
    * consumed every iteration of the weighted PageRank (round-16
    * optimization: it was re-aggregated and re-pinned from the 2|E|
    * frame on every call; one session copy, the degFrame precedent).
    */
  private[operators] def strengthFrame(s: SparkSession,
      d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"graph-strength|$d") {
      val v = graft.Checkpoint.pin(
        symEdgesWeighted(s, d).groupBy("src")
          .agg(sum(col("w")).as("strength")))
      (v, Seq(v))
    }

  /** Label-propagation communities (round-16 verdict item 5):
    * synchronous MIN-label propagation over the symmetric
    * co-occurrence graph — l₀(v) = v, l_{t+1}(v) = min(l_t(v),
    * min over neighbors l_t(u)) — for [[LpIters]] bounded rounds.
    * Exact integer labels, min is order-independent and its own
    * tie-break, so the full labeling hash-checks against DuckDB's
    * unrolled CTE; at convergence the labels are the connected
    * components (the dedup analogue on link graphs), and the k-round
    * cut means a label is the minimum vertex id within k hops —
    * deterministic either way. Per round: ONE rank⋈edges equi-join +
    * a map-side-combined min per destination — the PageRank
    * contribution shape with min for sum, so it scales the same way;
    * label frames unpinned for the same one-terminal-action reason,
    * the shared edge frame pinned (read every round).
    */
  private val LpIters = 4

  private def graphCommunities(s: SparkSession, d: String): DataFrame = {
    // CLOSED-neighborhood form (round-16 optimization):
    // min(l(v), min_{u∈N(v)} l(u)) = min_{u∈N(v)∪{v}} l(u), so one
    // self-loop per vertex unioned onto the shared symmetric frame
    // makes each round a single join + map-side-combined min — no
    // per-round |V|-row left join, no least/coalesce. Critically the
    // label frame is now referenced ONCE per round: the previous shape
    // read lbl twice (neighbor join + own-label keep), so the unpinned
    // 4-round plan doubled per round — 241 physical operators and 94
    // exchanges of replayed subtrees for a 4-iteration loop. Linear
    // lineage needs no per-round pin (the PageRank precedent). Labels
    // are identical longs; the oracle is unchanged.
    val ed = symEdges(s, d).unionByName(
      degFrame(s, d).select(col("pk").as("src"), col("pk").as("dst")))
    // l₀: every vertex labels itself. The degree frame IS the distinct
    // vertex set (one row per endpoint), so the init reads the shared
    // |V|-row pin instead of a distinct over 2|E| rows per call.
    var lbl = degFrame(s, d).select(col("pk"), col("pk").as("lbl"))
    for (_ <- 1 to LpIters) {
      lbl = ed.join(lbl.toDF("src", "sl"), Seq("src"))
        .groupBy(col("dst")).agg(min(col("sl")).as("lbl"))
        .withColumnRenamed("dst", "pk")
    }
    lbl.select(col("pk").as("part_key"), col("lbl").as("community"))
      .orderBy("part_key")
  }

  /** Peeling rounds for the k-core entry — bounded like every
    * iterative entry here, so the oracle unrolls to a fixed CTE chain.
    */
  private[operators] val KcoreRounds = 4

  /** k-core decomposition ([[KcoreRounds]] bounded peeling rounds) at
    * the DATA-DERIVED threshold k = mean degree = (2|E|) div |V| — a
    * fixed literal k is degenerate across scale factors (this graph's
    * min degree grows with SF), while the integer mean self-scales
    * and peels the sub-average half wherever the graph lands. Each
    * round drops every vertex whose CURRENT degree is below k and
    * removes its edges, so a removal can cascade (the classic core
    * collapse); after the bounded rounds the output labels every
    * original vertex with either its peel round or its final in-core
    * degree — exact integers end to end, so the full labeling
    * hash-checks against DuckDB's unrolled CTE. Scale shape: per
    * round one map-side-combined degree count plus two semi-joins of
    * the |E| frame against the |V|-row survivor set; the edge frame
    * is pinned per round (three consumers: the degree pass and both
    * ends of the next filter), the same per-level discipline as BFS.
    */
  /** Consistency contract: when `firstDeg` is given it MUST be the
    * degree frame of exactly `eRaw`'s edge set — round-1 peeling
    * trusts it without re-derivation. The pairing is checked with the
    * handshake identity Σ firstDeg.dg == 2·|E|, folded into the |V|
    * count the entry takes anyway, and a mismatch fails loudly. The
    * identity catches a degree frame of a different edge count, not
    * every mispairing. The only caller passing it is the driver entry,
    * which hands the shared [[degFrame]] built from the same edge pin
    * it passes as `eRaw`; any new caller must preserve that pairing or
    * pass None.
    */
  private[graft] def kcoreFrame(eRaw: DataFrame,
      firstDeg: Option[DataFrame] = None): DataFrame = {
    var e = graft.Checkpoint.ensurePinned(eRaw)
    // Round-1 degrees over the FULL edge set are exactly the shared
    // [[degFrame]] (every endpoint has degree ≥ 1, so the left-join
    // zero-fill is vacuous there) — the driver path hands it in and
    // skips both the |V| distinct and the first 2|E| degree count;
    // later rounds always recount over the peeled edge set.
    // (a narrow projection of an already-pinned frame needs no pin of
    // its own — it reads blocks either way)
    var v = firstDeg.map(_.select("pk"))
      .getOrElse(graft.Checkpoint.pin(
        e.select(col("u").as("pk")).unionByName(e.select(col("v").as("pk")))
          .distinct()))
    // |E| and |V| are the two driver-side scalars (1-row counts over
    // pinned frames — the BFS-seed budget class).
    val m = e.count()
    val n = firstDeg match {
      case Some(fd) =>
        val r = fd.agg(count(lit(1)), sum(col("dg"))).collect()(0)
        val degSum = if (r.isNullAt(1)) 0L else r.getLong(1)
        require(degSum == 2L * m,
          s"kcore: firstDeg is not the degree frame of eRaw: its degrees " +
            s"sum to $degSum, but eRaw has 2*|E| = ${2L * m} edge ends")
        r.getLong(0)
      case None => v.count()
    }
    require(n > 0, "kcore: empty co-occurrence graph")
    val k = (2L * m) / n
    val peeled = Seq.newBuilder[DataFrame]
    for (i <- 1 to KcoreRounds) {
      val dcnt = e.select(col("u").as("pk"))
        .unionByName(e.select(col("v").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("dg"))
      val degf =
        if (i == 1 && firstDeg.isDefined)
          graft.Checkpoint.ensurePinned(firstDeg.get)
        else graft.Checkpoint.pin(
          v.join(dcnt, Seq("pk"), "left")
            .select(col("pk"), coalesce(col("dg"), lit(0L)).as("dg")))
      peeled += degf.filter(col("dg") < k)
        .select(col("pk"), lit(i.toLong).as("peel_round"))
      v = graft.Checkpoint.pin(degf.filter(col("dg") >= k).select("pk"))
      e = graft.Checkpoint.pin(
        e.join(v.withColumnRenamed("pk", "u"), Seq("u"), "left_semi")
          .join(v.withColumnRenamed("pk", "v"), Seq("v"), "left_semi"))
    }
    val fin = e.select(col("u").as("pk"))
      .unionByName(e.select(col("v").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("dg"))
    val nullL = lit(null).cast("long")
    peeled.result().reduce(_ unionByName _)
      .select(col("pk"), col("peel_round"), nullL.as("core_deg"))
      .unionByName(v.join(fin, Seq("pk"), "left")
        .select(col("pk"), nullL.as("peel_round"),
          coalesce(col("dg"), lit(0L)).as("core_deg")))
      .select(col("pk").as("part_key"), col("peel_round"), col("core_deg"))
      .orderBy("part_key")
  }

  private def graphKcore(s: SparkSession, d: String): DataFrame =
    kcoreFrame(coEdges(s, d), Some(degFrame(s, d)))

  /** Local clustering coefficient — closed wedges over possible
    * wedges per vertex, cc(v) = 2·T(v) / (d(v)·(d(v)−1)) for
    * d(v) ≥ 2, carried as an exact PPM integer
    * (2·T·10⁶) div (d·(d−1)) so the full labeling hash-checks. Reuses
    * the oriented wedge kernel for T(v) (the 100 TB triangle shape)
    * and the pinned edge frame for degrees — one pin, both consumers.
    * Overflow budget: 2·T·10⁶ < 2⁶³ up to T ≈ 4.6×10¹² triangles per
    * vertex — beyond any real link graph's per-vertex closure.
    */
  private[graft] def clusteringFrame(eRaw: DataFrame): DataFrame =
    clusteringFromTriangles(eRaw, triangleCounts(eRaw))

  private def clusteringFromTriangles(eRaw: DataFrame,
      triRaw: DataFrame, degShared: Option[DataFrame] = None): DataFrame = {
    val deg = degShared.getOrElse {
      val e = graft.Checkpoint.ensurePinned(eRaw)
      e.select(col("u").as("pk"))
        .unionByName(e.select(col("v").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("dg"))
    }
    val tri = triRaw.withColumnRenamed("part_key", "pk")
    deg.filter(col("dg") >= 2)
      .join(tri, Seq("pk"), "left")
      .select(col("pk").as("part_key"), col("dg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("(2 * coalesce(n_triangles, 0L) * 1000000)" +
          " div (dg * (dg - 1))").as("cc_ppm"))
      .orderBy("part_key")
  }

  private def graphClustering(s: SparkSession, d: String): DataFrame =
    clusteringFromTriangles(coEdges(s, d), sharedTriangles(s, d),
      Some(degFrame(s, d)))

  /** Top-k for the link-prediction entry (deterministic cut: the
    * (jaccard_ppm DESC, b, c) order is total — (b, c) is unique).
    */
  private val LinkPredTopK = 100

  /** Common-neighbor / Jaccard link prediction — the similarity-join
    * counterpart of triangle counting: score every NON-edge pair
    * (b, c) that shares at least one wedge center by its common
    * neighbor count and exact Jaccard overlap
    * cn·10⁶ div (d(b) + d(c) − cn), and return the top
    * [[LinkPredTopK]]. Scale posture: common-neighbor counting is
    * inherently Σ C(d(u), 2) over wedge CENTERS u, which a power-law
    * hub makes catastrophic (a 10⁵-degree hub alone is 5×10⁹
    * wedges) — so centers are restricted to degree ≤ the MEAN degree,
    * the hub-exclusion of the link-prediction literature and the
    * graph analogue of the prefix filter's document-frequency cut
    * (q_ngram_jaccard): a super-average-degree vertex is the
    * stop-word of the graph — its wedges carry the least similarity
    * signal and ALL of the quadratic cost (here the cut is 148M → 52M
    * wedges at sf0.1; on a power-law graph it is the difference
    * between feasible and not). The cap is DATA-DERIVED like the
    * k-core threshold, the semantics stay exact-conditional (common
    * neighbors through sub-mean-degree centers), and the oracle
    * mirrors the cap literally. Per-pair degrees in the Jaccard
    * denominator are the FULL degrees, attached AFTER the pair
    * aggregation by unhinted joins — AQE broadcasts the |V|-row side
    * at any realistic vertex count and falls back to shuffle beyond,
    * and nothing but the bare (center, pair) wedge rides the one big
    * shuffle. Wedge legs get explicit partition counts — the same
    * AQE fan-out-blindness guard as the triangle kernel.
    */
  private[graft] def linkPredictFrame(eRaw: DataFrame): DataFrame = {
    val e = graft.Checkpoint.ensurePinned(eRaw)
    val deg = graft.Checkpoint.pin(
      e.select(col("u").as("pk")).unionByName(e.select(col("v").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("dg")))
    val ed = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
    linkPredictFromParts(e, ed, deg)
  }

  /** [[linkPredictFrame]] body over the (pinned) edge set, its
    * symmetric projection, and the degree frame — the driver path
    * hands in the session-pinned shared frames.
    *
    * Round-16 measured rework of the wedge-count pipeline (the
    * bench's single most expensive entry, 10.3 s at sf0.1; 52M
    * wedges → 45M distinct pairs):
    *
    *  1. STREAMED wedge generation off per-center sorted neighbor
    *     arrays (the coPairs/basketPairs two-generator discipline)
    *     instead of the oriented self-join: collect each center's
    *     ≤cap neighbors once (the cap bounds the row — this is the
    *     one graph frame where a width bound needs no bucketing,
    *     because sub-mean-degree centers ARE the bounded set), then
    *     posexplode + slice emits each unordered pair exactly once —
    *     the self-join materialized all d² ordered pairs and filtered
    *     half away (104M generated rows → 52M), plus two exchanges
    *     and a sort-merge join that this shape skips.
    *  2. The wedge exchange ships per-(center, pos) SUFFIX ARRAYS, not
    *     exploded per-wedge rows (round-17 second session, guide §2.3
    *     "shuffle keys and metadata instead of payloads" — here the
    *     row framing WAS the payload): one (b, cs) row per occupied
    *     array position carries the same Σ C(d,2) pair elements in
    *     ~20× fewer rows and ~2× fewer bytes (an exploded single-long
    *     row costs 16 B of UnsafeRow framing per 8 B value; the array
    *     row amortizes framing across its whole suffix). The explode
    *     happens AFTER the exchange — hashpartitioning(b) satisfies
    *     groupBy(b, c)'s clustering (b is a prefix of the group key),
    *     so no second exchange appears and the count runs where the
    *     rows already are. Interleaved A/B at sf0.1 (3 rounds, one
    *     window, identical outputs): exploded-longs 9.0/11.2/9.9 s vs
    *     array-shuffle 4.8/5.5/5.3 s on the count stage in isolation.
    *  3. The non-edge cut stays ONE LongHashedRelation probe per PAIR
    *     on the packed (b<<32|c) key, but now AFTER the count (45M
    *     probes instead of 52M): dropping an edge pair's row cannot
    *     change any non-edge pair's count, so the result is identical
    *     (A/B verified bit-equal pair counts both ways).
    *  4. EXPLICIT repartition (4 tasks per core — round-17, §2.6) on
    *     the array exchange: AQE sizes exchanges from the rows flowing
    *     in and cannot see the ~20× element fan-out inside the arrays
    *     (the documented O(block²) coalesce trap), and one reduce task
    *     per core cannot overlap fetch with aggregation. User-specified
    *     counts are respected by AQE. Skew note for 100 TB: per-b
    *     exchange load is bounded by deg(b)·cap elements (b appears in
    *     ≤ deg(b) center arrays, each array ≤ cap by the center cut) —
    *     the same hub exposure as the adjacency build itself; a corpus
    *     with extreme hubs splits hot b's by salting the suffix rows
    *     and two-level-counting (key (b, salt, c) then (b, c)), not
    *     needed at this degree distribution.
    */
  private def linkPredictFromParts(e: DataFrame, ed: DataFrame,
      deg: DataFrame): DataFrame = {
    val m = e.count()
    // One pass over the |V|-row pinned degree frame for the count AND
    // the id bound the packed pair key requires (fail fast instead of
    // silently colliding (b, c) pairs past 2³² — wide-id corpora keep
    // the two-column key, documented at the packing site).
    val vrow = deg.agg(count(lit(1)), max(col("pk"))).head()
    val n = vrow.getLong(0)
    require(n > 0, "link predict: empty co-occurrence graph")
    val maxId = vrow.getLong(1)
    require(maxId < (1L << 32),
      s"link predict: vertex id $maxId overflows the packed (b<<32|c) " +
        "pair key; use the two-column (b, c) grouping for wide-id corpora")
    val cap = (2L * m) / n
    val ctr = deg.filter(col("dg") <= cap).select("pk")
    val np = e.sparkSession.sparkContext.defaultParallelism
    // Per-center sorted neighbor arrays: ≤cap elements per row by the
    // center cut, collect_set == the distinct neighbor set (ed is
    // distinct per (src, dst)). Explicit partition count on the
    // grouping exchange — AQE sizes it from the |adj| rows flowing in
    // and cannot see the ~50× pair fan-out above it (the documented
    // O(block²) coalesce trap).
    val adjArr = ed
      .join(ctr.withColumnRenamed("pk", "src"), Seq("src"), "left_semi")
      .repartition(np, col("src"))
      .groupBy("src").agg(array_sort(collect_set(col("dst"))).as("ns"))
    // The wedge stream crosses the exchange as per-(center, pos)
    // SUFFIX ARRAYS (see item 2 above): one row per occupied position,
    // Σ|cs| = wedge count. Empty suffixes (the last position) emit no
    // pairs and are dropped before the exchange.
    val halfWedges = adjArr
      .select(col("ns"), posexplode(col("ns")))
      .select(col("col").as("b"),
        slice(col("ns"), col("pos") + lit(2), size(col("ns"))).as("cs"))
      .filter(size(col("cs")) > 0)
    halfWedges
      // 4 reduce tasks per core, not 1 (round-17, guide §2.6): with
      // exactly |cores| partitions each core runs ONE reduce task, so
      // its shuffle fetch cannot overlap any other task's aggregation
      // and the stage tail idles the rest; 4x tasks pipeline fetch
      // against compute and shrink each task's aggregation hash map to
      // cache-friendly size (measured on the exploded-longs shape:
      // 32p 5.4/5.5/5.7 s vs 128p 4.2/4.9/4.4 s interleaved; the
      // multiplier is parameterized on defaultParallelism and stays
      // modest because at cluster scale quadratically many tiny
      // shuffle blocks cut the other way, §2.2). Two-level
      // (center-bucketed) pre-aggregation was measured DEAD in round
      // 17, not skipped: per-map-partition pair multiplicity is
      // 52.05M groups / 52.32M wedges = 1.005 (max 4), so a combining
      // pre-aggregate cannot exist for this stream — which is exactly
      // why shipping fewer, larger rows (not partially-counted rows)
      // is the lever here.
      .repartition(np * 4, col("b"))
      .select(col("b"), explode(col("cs")).as("c"))
      .groupBy("b", "c").agg(count(lit(1)).as("cn"))
      .join(e.select((shiftleft(col("u"), 32) + col("v")).as("bc")),
        (shiftleft(col("b"), 32) + col("c")) === col("bc"), "left_anti")
      .join(deg.select(col("pk").as("b"), col("dg").as("db")), Seq("b"))
      .join(deg.select(col("pk").as("c"), col("dg").as("dc")), Seq("c"))
      .select(col("b"), col("c"), col("cn").as("common_neighbors"),
        expr("(cn * 1000000) div (db + dc - cn)").as("jaccard_ppm"))
      .orderBy(desc("jaccard_ppm"), asc("b"), asc("c"))
      .limit(LinkPredTopK)
  }

  private def graphLinkPredict(s: SparkSession, d: String): DataFrame =
    linkPredictFromParts(coEdges(s, d), symEdges(s, d), degFrame(s, d))

  /** Degree assortativity (Newman's r) — the Pearson correlation of
    * endpoint degrees over the symmetric directed edge list: the
    * one-number structural summary (hub-hub vs hub-leaf mixing) every
    * link-graph profile reports next to the degree histogram. All
    * five moments (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINT sums in
    * one map-side-combined pass over edges⋈degrees; the correlation
    * itself is ONE double expression over those integers, written
    * with the identical operation tree in both engines and rounded
    * to 6 dp — the proven chisq/Gini libm-parity discipline. Overflow
    * budget: Σ d(u)²·d(v)² terms stay under 2⁶³ while max-degree² ·
    * |E| < 9.2×10¹⁸ — beyond 10⁹ edges of 10⁴-degree hubs; drop to
    * per-partition doubles only past that (documented, not needed
    * here).
    */
  private[graft] def assortativityFrame(eRaw: DataFrame): DataFrame = {
    val e = graft.Checkpoint.ensurePinned(eRaw)
    val deg = e.select(col("u").as("pk")).unionByName(e.select(col("v").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("dg"))
    val ed = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
    assortativityFromParts(ed, deg)
  }

  /** [[assortativityFrame]] body over pre-derived symmetric edges +
    * degrees, so the driver path reads the session-pinned shared
    * frames instead of re-deriving both per call.
    */
  private def assortativityFromParts(ed: DataFrame,
      deg: DataFrame): DataFrame = {
    ed.join(deg.select(col("pk").as("src"), col("dg").as("dx")), Seq("src"))
      .join(deg.select(col("pk").as("dst"), col("dg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("m"), col("sx"), col("sxy"),
        expr("""round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |  / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |    * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
          |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"""
          .stripMargin.replace("\n", " ")).as("assortativity_r6"))
  }

  private def graphAssortativity(s: SparkSession, d: String): DataFrame =
    assortativityFromParts(symEdges(s, d), degFrame(s, d))

  /** HITS fixed-point scale and iteration count: scores are BIGINT
    * multiples of 10⁻⁶ and each normalization is an exact integer
    * floor-division by the global sum, so both engines compute
    * literally the same longs. Overflow budget: an un-normalized
    * score is ≤ Σ of the opposite side's normalized scores ≈ 10⁶, so
    * the re-scale product stays ≤ 10¹²·degree — BIGINT-safe past 10⁶
    * neighbors; a denser graph drops the scale a decade (the topics
    * discipline).
    */
  private val HitsScale = 1000000L
  private[operators] val HitsIters = 2

  /** HITS hubs/authorities (Kleinberg) over a DIRECTED bipartite edge
    * set (`c` → `p`) — the mutual-reinforcement ranking every
    * citation/link corpus wants next to PageRank: a hub is good
    * because it points at good authorities and vice versa. Each
    * half-step is the PageRank contribution shape (one edges⋈scores
    * equi-join + a map-side-combined sum per far endpoint) followed
    * by an exact integer normalization against the global sum, a
    * 1-row aggregate of the already-aggregated score frame broadcast-
    * crossJoined back onto it — never collected, and never an
    * un-partitioned window, which would move every vertex row to one
    * task for the same number. The edge frame is pinned (read every
    * half-step); each authority frame is pinned once — it feeds the
    * next half-step's join and the final output.
    */
  private[graft] def hitsFrame(beRaw: DataFrame): (DataFrame, DataFrame) = {
    def normalized(scores: DataFrame, key: String, raw: String,
        out: String): DataFrame =
      scores.crossJoin(broadcast(scores.agg(sum(col(raw)).as("t"))))
        .select(col(key), expr(s"($raw * ${HitsScale}L) div t").as(out))
    val be = graft.Checkpoint.ensurePinned(beRaw)
    var hub = be.select(col("c")).distinct()
      .select(col("c"), lit(HitsScale).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // Only the AUTH frame is pinned (round-16): each hub frame has
      // exactly one consumer (the next auth half-step, or the final
      // union for the last one), so its half-step executes once either
      // way and a pin was a pure extra job + block copy per iteration;
      // auth keeps the pin because pinning it is what executes the
      // (unpinned) hub half-step chained below it, and the LAST auth
      // genuinely has two consumers (final hub + output union).
      auth = graft.Checkpoint.pin(normalized(
        be.join(hub, Seq("c")).groupBy("p").agg(sum(col("h")).as("ar")),
        "p", "ar", "a"))
      hub = normalized(
        be.join(auth, Seq("p")).groupBy("c").agg(sum(col("a")).as("hr")),
        "c", "hr", "h")
    }
    (hub, auth)
  }

  /** Driver entry: HITS over the customer→part purchase bipartite
    * graph (orders⋈lineitem, distinct (custkey, partkey)) — a genuine
    * DIRECTED two-mode graph, unlike the symmetric co-occurrence set
    * where hubs and authorities coincide.
    */
  private def graphHits(s: SparkSession, d: String): DataFrame = {
    // The bipartite purchase frame is the entry's materialized graph
    // derivation — session-pinned like the co-occurrence family's
    // (round-16: the orders⋈lineitem distinct re-ran per call).
    val be = graft.SessionCache.getOrBuild(s, s"graph-hits-be|$d") {
      val b = graft.Checkpoint.pin(Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("c"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("p")),
          Seq("okey"))
        .select("c", "p").distinct())
      (b, Seq(b))
    }
    val (hub, auth) = hitsFrame(be)
    hub.select(col("c").as("entity_key"), lit("hub").as("kind"),
        col("h").as("score_scaled"))
      .unionByName(auth.select(col("p").as("entity_key"),
        lit("auth").as("kind"), col("a").as("score_scaled")))
      .orderBy("kind", "entity_key")
  }

  /** Shared oracle prelude: the distinct undirected co-occurrence
    * edge set, exactly as [[coEdges]] derives it.
    */
  private val edgesSql =
    """li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
      |       FROM lineitem WHERE l_orderkey IS NOT NULL),
      |e AS (SELECT DISTINCT a.pk u, b.pk v
      |      FROM li a JOIN li b ON a.okey = b.okey AND a.pk < b.pk)""".stripMargin

  /** Shared oracle mid-section: per-vertex triangle counts via the
    * SAME oriented-wedge derivation as [[triangleCounts]] (assumes
    * [[edgesSql]]'s `e` is in scope) — used by both the triangle and
    * the clustering-coefficient oracles.
    */
  private val triSql =
    """deg AS (SELECT pk, count(*) dg FROM (
      |    SELECT u pk FROM e UNION ALL SELECT v pk FROM e) t GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
      |         THEN e.u ELSE e.v END src,
      |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
      |         THEN e.v ELSE e.u END dst
      |  FROM e JOIN deg du ON du.pk = e.u JOIN deg dv ON dv.pk = e.v),
      |od AS (SELECT o.src, o.dst, dv.dg ddg
      |       FROM o JOIN deg dv ON dv.pk = o.dst),
      |tri AS (SELECT w1.src a, w1.dst b, w2.dst c
      |  FROM od w1 JOIN od w2 ON w1.src = w2.src
      |    AND (w1.ddg < w2.ddg OR (w1.ddg = w2.ddg AND w1.dst < w2.dst))
      |  WHERE EXISTS (SELECT 1 FROM o
      |                WHERE o.src = w1.dst AND o.dst = w2.dst)),
      |x AS (SELECT a pk FROM tri UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri),
      |tc AS (SELECT pk, CAST(count(*) AS BIGINT) t FROM x GROUP BY 1)"""
      .stripMargin

  /** One k-core peel round as oracle CTEs: degrees over e{i-1}
    * restricted to v{i-1}, the round-i peel set, survivors, and the
    * surviving edge set.
    */
  private def kcoreRoundSql(i: Int): String = {
    val (pv, pe) = (s"v${i - 1}", s"e${i - 1}")
    // MATERIALIZED throughout: each round references the previous
    // round's CTEs several times, and plain CTEs inline that chain
    // exponentially (the q_unigram_tok_train lesson).
    s"""d$i AS MATERIALIZED (SELECT $pv.pk, coalesce(c.dg, 0) dg FROM $pv
       |  LEFT JOIN (SELECT pk, count(*) dg FROM (
       |      SELECT u pk FROM $pe UNION ALL SELECT v pk FROM $pe) t
       |    GROUP BY 1) c USING (pk)),
       |p$i AS (SELECT pk, $i r FROM d$i, kk WHERE dg < kk.k),
       |v$i AS MATERIALIZED (SELECT pk FROM d$i, kk WHERE dg >= kk.k),
       |e$i AS MATERIALIZED (SELECT $pe.u, $pe.v FROM $pe
       |  JOIN v$i a ON a.pk = $pe.u JOIN v$i b ON b.pk = $pe.v)"""
      .stripMargin
  }

  /** One HITS iteration as oracle CTEs: authority raw/normalized from
    * hub h{i-1}, then hub raw/normalized from a$i.
    */
  private def hitsIterSql(i: Int): String =
    // MATERIALIZED accumulators — each raw-score CTE is read twice
    // (its global sum and its normalize), so a plain chain inlines
    // exponentially across iterations.
    s"""ar$i AS MATERIALIZED (SELECT p, CAST(sum(h) AS BIGINT) ar
       |         FROM be JOIN h${i - 1} USING (c) GROUP BY 1),
       |at$i AS (SELECT CAST(sum(ar) AS BIGINT) t FROM ar$i),
       |a$i AS MATERIALIZED (SELECT p, (ar * ${HitsScale}) // t a
       |        FROM ar$i CROSS JOIN at$i),
       |hr$i AS MATERIALIZED (SELECT c, CAST(sum(a) AS BIGINT) hr
       |         FROM be JOIN a$i USING (p) GROUP BY 1),
       |ht$i AS (SELECT CAST(sum(hr) AS BIGINT) t FROM hr$i),
       |h$i AS MATERIALIZED (SELECT c, (hr * ${HitsScale}) // t h
       |        FROM hr$i CROSS JOIN ht$i)""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q_graph_triangles", graphTriangles, Some(
      s"""WITH $edgesSql,
         |$triSql
         |SELECT pk AS part_key, t AS n_triangles
         |FROM tc ORDER BY part_key""".stripMargin)),
    QueryDef("q_graph_kcore", graphKcore, Some(
      s"""WITH $edgesSql,
         |e0 AS MATERIALIZED (SELECT u, v FROM e),
         |v0 AS MATERIALIZED (SELECT DISTINCT pk FROM (
         |    SELECT u pk FROM e UNION ALL SELECT v pk FROM e) t),
         |kk AS (SELECT (2 * (SELECT count(*) FROM e))
         |         // (SELECT count(*) FROM v0) AS k),
         |${(1 to KcoreRounds).map(kcoreRoundSql).mkString(",\n")},
         |fin AS (SELECT pk, CAST(count(*) AS BIGINT) dg FROM (
         |    SELECT u pk FROM e$KcoreRounds
         |    UNION ALL SELECT v pk FROM e$KcoreRounds) t GROUP BY 1)
         |SELECT pk AS part_key, CAST(r AS BIGINT) AS peel_round,
         |       CAST(NULL AS BIGINT) AS core_deg
         |FROM (${(1 to KcoreRounds)
            .map(i => s"SELECT pk, r FROM p$i").mkString(" UNION ALL ")}) p
         |UNION ALL
         |SELECT v$KcoreRounds.pk, CAST(NULL AS BIGINT),
         |       CAST(coalesce(fin.dg, 0) AS BIGINT)
         |FROM v$KcoreRounds LEFT JOIN fin USING (pk)
         |ORDER BY part_key""".stripMargin)),
    QueryDef("q_graph_clustering", graphClustering, Some(
      s"""WITH $edgesSql,
         |$triSql
         |SELECT deg.pk AS part_key, CAST(deg.dg AS BIGINT) AS degree,
         |  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
         |  CAST((2 * coalesce(tc.t, 0) * 1000000)
         |    // (deg.dg * (deg.dg - 1)) AS BIGINT) AS cc_ppm
         |FROM deg LEFT JOIN tc USING (pk)
         |WHERE deg.dg >= 2 ORDER BY part_key""".stripMargin)),
    QueryDef("q_graph_assortativity", graphAssortativity, Some(
      s"""WITH $edgesSql,
         |deg AS (SELECT pk, count(*) dg FROM (
         |    SELECT u pk FROM e UNION ALL SELECT v pk FROM e) t GROUP BY 1),
         |ed AS (SELECT u src, v dst FROM e
         |       UNION ALL SELECT v src, u dst FROM e),
         |mo AS (SELECT CAST(count(*) AS BIGINT) m,
         |    CAST(sum(dx.dg) AS BIGINT) sx, CAST(sum(dy.dg) AS BIGINT) sy,
         |    CAST(sum(dx.dg * dy.dg) AS BIGINT) sxy,
         |    CAST(sum(dx.dg * dx.dg) AS BIGINT) sxx,
         |    CAST(sum(dy.dg * dy.dg) AS BIGINT) syy
         |  FROM ed JOIN deg dx ON dx.pk = ed.src
         |    JOIN deg dy ON dy.pk = ed.dst)
         |SELECT m, sx, sxy,
         |  round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS assortativity_r6
         |FROM mo""".stripMargin)),
    QueryDef("q_graph_link_predict", graphLinkPredict, Some(
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
        |       FROM lineitem WHERE l_orderkey IS NOT NULL),
        |e AS MATERIALIZED (SELECT DISTINCT a.pk u, b.pk v
        |      FROM li a JOIN li b ON a.okey = b.okey AND a.pk < b.pk),
        |deg AS MATERIALIZED (SELECT pk, count(*) dg FROM (
        |    SELECT u pk FROM e UNION ALL SELECT v pk FROM e) t GROUP BY 1),
        |st AS (SELECT (2 * (SELECT count(*) FROM e))
        |         // (SELECT count(*) FROM deg) AS cap),
        |ctr AS (SELECT pk FROM deg, st WHERE dg <= st.cap),
        |ed AS (SELECT u src, v dst FROM e
        |       UNION ALL SELECT v src, u dst FROM e),
        |adj AS MATERIALIZED (SELECT ed.src, ed.dst FROM ed
        |       JOIN ctr ON ctr.pk = ed.src),
        |cn AS MATERIALIZED (SELECT a1.dst b, a2.dst c,
        |      CAST(count(*) AS BIGINT) cn
        |    FROM adj a1 JOIN adj a2
        |      ON a1.src = a2.src AND a1.dst < a2.dst
        |    GROUP BY 1, 2),
        |nw AS (SELECT cn.* FROM cn WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.u = cn.b AND e.v = cn.c))
        |SELECT nw.b, nw.c, nw.cn AS common_neighbors,
        |  CAST((nw.cn * 1000000) // (db.dg + dc.dg - nw.cn) AS BIGINT)
        |    AS jaccard_ppm
        |FROM nw JOIN deg db ON db.pk = nw.b JOIN deg dc ON dc.pk = nw.c
        |ORDER BY jaccard_ppm DESC, b, c LIMIT 100""".stripMargin)),
    QueryDef("q_graph_hits", graphHits, Some(
      s"""WITH be AS (SELECT DISTINCT o.o_custkey c, l.l_partkey p
         |      FROM orders o JOIN lineitem l
         |        ON l.l_orderkey = o.o_orderkey),
         |h0 AS (SELECT DISTINCT c, CAST(${HitsScale} AS BIGINT) h FROM be),
         |${(1 to HitsIters).map(hitsIterSql).mkString(",\n")}
         |SELECT c AS entity_key, 'hub' AS kind,
         |       CAST(h AS BIGINT) AS score_scaled FROM h$HitsIters
         |UNION ALL
         |SELECT p, 'auth', CAST(a AS BIGINT) FROM a$HitsIters
         |ORDER BY kind, entity_key""".stripMargin)),
    QueryDef("q_graph_pagerank", graphPagerank, Some(
      s"""WITH $edgesSql,
         |ed AS (SELECT u src, v dst FROM e
         |       UNION ALL SELECT v src, u dst FROM e),
         |vtx AS (SELECT src, CAST(count(*) AS BIGINT) outdeg
         |        FROM ed GROUP BY 1),
         |n AS (SELECT count(*) n FROM vtx),
         |r0 AS (SELECT src pk, 1000000000000 // n.n AS r
         |       FROM vtx CROSS JOIN n),
         |c1 AS (SELECT ed.dst pk, CAST(sum(r0.r // vtx.outdeg) AS BIGINT) c
         |       FROM ed JOIN vtx USING (src) JOIN r0 ON r0.pk = ed.src
         |       GROUP BY 1),
         |r1 AS (SELECT vtx.src pk,
         |    (150000000000 // n.n) + (85 * coalesce(c1.c, 0)) // 100 AS r
         |  FROM vtx CROSS JOIN n LEFT JOIN c1 ON c1.pk = vtx.src),
         |c2 AS (SELECT ed.dst pk, CAST(sum(r1.r // vtx.outdeg) AS BIGINT) c
         |       FROM ed JOIN vtx USING (src) JOIN r1 ON r1.pk = ed.src
         |       GROUP BY 1),
         |r2 AS (SELECT vtx.src pk,
         |    (150000000000 // n.n) + (85 * coalesce(c2.c, 0)) // 100 AS r
         |  FROM vtx CROSS JOIN n LEFT JOIN c2 ON c2.pk = vtx.src),
         |c3 AS (SELECT ed.dst pk, CAST(sum(r2.r // vtx.outdeg) AS BIGINT) c
         |       FROM ed JOIN vtx USING (src) JOIN r2 ON r2.pk = ed.src
         |       GROUP BY 1),
         |r3 AS (SELECT vtx.src pk,
         |    (150000000000 // n.n) + (85 * coalesce(c3.c, 0)) // 100 AS r
         |  FROM vtx CROSS JOIN n LEFT JOIN c3 ON c3.pk = vtx.src)
         |SELECT pk AS part_key, CAST(r AS BIGINT) AS rank_scaled
         |FROM r3 ORDER BY part_key""".stripMargin)),
    QueryDef("q_graph_pagerank_weighted", graphPagerankWeighted, Some(
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
        |       FROM lineitem WHERE l_orderkey IS NOT NULL),
        |ew AS (SELECT a.pk u, b.pk v, CAST(count(*) AS BIGINT) w
        |       FROM li a JOIN li b ON a.okey = b.okey AND a.pk < b.pk
        |       GROUP BY 1, 2),
        |ed AS (SELECT u src, v dst, w FROM ew
        |       UNION ALL SELECT v src, u dst, w FROM ew),
        |vtx AS (SELECT src, CAST(sum(w) AS BIGINT) strength
        |        FROM ed GROUP BY 1),
        |n AS (SELECT count(*) n FROM vtx),
        |r0 AS (SELECT src pk, 1000000000000 // n.n AS r
        |       FROM vtx CROSS JOIN n),
        |c1 AS (SELECT ed.dst pk,
        |         CAST(sum((ed.w * r0.r) // vtx.strength) AS BIGINT) c
        |       FROM ed JOIN vtx USING (src) JOIN r0 ON r0.pk = ed.src
        |       GROUP BY 1),
        |r1 AS (SELECT vtx.src pk,
        |    (150000000000 // n.n) + (85 * coalesce(c1.c, 0)) // 100 AS r
        |  FROM vtx CROSS JOIN n LEFT JOIN c1 ON c1.pk = vtx.src),
        |c2 AS (SELECT ed.dst pk,
        |         CAST(sum((ed.w * r1.r) // vtx.strength) AS BIGINT) c
        |       FROM ed JOIN vtx USING (src) JOIN r1 ON r1.pk = ed.src
        |       GROUP BY 1),
        |r2 AS (SELECT vtx.src pk,
        |    (150000000000 // n.n) + (85 * coalesce(c2.c, 0)) // 100 AS r
        |  FROM vtx CROSS JOIN n LEFT JOIN c2 ON c2.pk = vtx.src),
        |c3 AS (SELECT ed.dst pk,
        |         CAST(sum((ed.w * r2.r) // vtx.strength) AS BIGINT) c
        |       FROM ed JOIN vtx USING (src) JOIN r2 ON r2.pk = ed.src
        |       GROUP BY 1),
        |r3 AS (SELECT vtx.src pk,
        |    (150000000000 // n.n) + (85 * coalesce(c3.c, 0)) // 100 AS r
        |  FROM vtx CROSS JOIN n LEFT JOIN c3 ON c3.pk = vtx.src)
        |SELECT pk AS part_key, CAST(r AS BIGINT) AS rank_scaled
        |FROM r3 ORDER BY part_key""".stripMargin)),
    QueryDef("q_graph_communities", graphCommunities, Some(
      s"""WITH $edgesSql,
         |ed AS (SELECT u src, v dst FROM e
         |       UNION ALL SELECT v src, u dst FROM e),
         |a0 AS (SELECT DISTINCT src AS pk, src AS lbl FROM ed),
         |n1 AS (SELECT ed.dst pk, min(a0.lbl) nl
         |       FROM ed JOIN a0 ON a0.pk = ed.src GROUP BY 1),
         |a1 AS (SELECT a0.pk, least(a0.lbl, coalesce(n1.nl, a0.lbl)) lbl
         |       FROM a0 LEFT JOIN n1 USING (pk)),
         |n2 AS (SELECT ed.dst pk, min(a1.lbl) nl
         |       FROM ed JOIN a1 ON a1.pk = ed.src GROUP BY 1),
         |a2 AS (SELECT a1.pk, least(a1.lbl, coalesce(n2.nl, a1.lbl)) lbl
         |       FROM a1 LEFT JOIN n2 USING (pk)),
         |n3 AS (SELECT ed.dst pk, min(a2.lbl) nl
         |       FROM ed JOIN a2 ON a2.pk = ed.src GROUP BY 1),
         |a3 AS (SELECT a2.pk, least(a2.lbl, coalesce(n3.nl, a2.lbl)) lbl
         |       FROM a2 LEFT JOIN n3 USING (pk)),
         |n4 AS (SELECT ed.dst pk, min(a3.lbl) nl
         |       FROM ed JOIN a3 ON a3.pk = ed.src GROUP BY 1),
         |a4 AS (SELECT a3.pk, least(a3.lbl, coalesce(n4.nl, a3.lbl)) lbl
         |       FROM a3 LEFT JOIN n4 USING (pk))
         |SELECT pk AS part_key, CAST(lbl AS BIGINT) AS community
         |FROM a4 ORDER BY part_key""".stripMargin))
  )
}
