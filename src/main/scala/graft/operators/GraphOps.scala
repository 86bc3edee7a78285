package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Iterative graph analytics beyond connected components (q71): link
  * centrality as a data-quality prior. Web-scale pretraining curation
  * uses link-graph centrality to rank crawl hosts (the OPIC/PageRank
  * family); this is that operator expressed as pure relational algebra
  * on integer arithmetic so the result is bit-exact cross-engine.
  */
object GraphOps {

  /** Fixed-iteration PageRank over a directed edge list, computed in
    * scaled BIGINT arithmetic so every engine produces the identical
    * ranks (no IEEE drift, no convergence-test nondeterminism).
    *
    * Recurrence (damping 0.85, all in integer floor division):
    *   pr₀(v)    = scale
    *   pr_{t+1}(v) = (15·scale) DIV 100 + (85 · Σ_{u→v} (pr_t(u) DIV deg(u))) DIV 100
    *
    * Semantics / preconditions:
    *   - The node universe is the SOURCES of `edges` (nodes with
    *     outdegree ≥ 1). The input must be dangling-free — every node
    *     that receives rank must also emit it — or mass silently leaks;
    *     a symmetrized (undirected) graph satisfies this by
    *     construction, which is how q109 calls it.
    *   - `iters` is FIXED, not convergence-tested: a convergence test
    *     would make the output depend on runtime numerics; a fixed
    *     horizon makes it a pure function of the edge list, which is
    *     what lets DuckDB mirror it as `iters` unrolled CTEs.
    *   - Overflow: rank mass is contractive (Σ pr_{t+1} ≤ 0.15·n·scale
    *     + 0.85·Σ pr_t → fixed point n·scale), so the largest value the
    *     85· multiply can see is ≤ n·scale; n·scale < 2^63/85 ≈ 1.1e17
    *     is the caller's contract. scale = 1e9 holds to ~1e8 nodes,
    *     1e6 to ~1e11 — precision (9 vs 6 digits) trades directly
    *     against node-count headroom.
    *
    * Scale (100 TB): per iteration one equi-join of the rank vector
    * with the edge list (both shuffle-partitioned on the join key and
    * GROWING WITH THE DATA — nothing is collected or broadcast) and one
    * sum aggregation with map-side partials; the q71 iteration
    * discipline applies (persist per round, unpersist the previous,
    * `localCheckpoint` the result so downstream plans don't replay
    * `iters` joins of lineage). Hub skew in Σ contrib is an
    * aggregation, not a join — partial aggregation absorbs it.
    *
    * Output: (id BIGINT, pr BIGINT) for every source node.
    */
  def integerPageRank(edges0: DataFrame, iters: Int, scale: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = edges0
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
      // persist PARTITIONED BY the join key: `distinct` leaves the
      // cached edge table hash-partitioned on (src, dst), so every
      // iteration's rank⋈edges join re-shuffled the STATIC edge table
      // (iters extra full-table exchanges at 100 TB). One repartition
      // up front makes the cached partitioning the one the per-round
      // join and the degree aggregation both need — they reuse it,
      // zero per-iteration edge exchanges (guide §2.4).
      .repartition(col("src")).persist(lvl)
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg")).persist(lvl)
    val base = (15L * scale) / 100L
    var pr = deg.select(col("id"), lit(scale).as("pr")).persist(lvl)
    var it = 0
    while (it < iters) {
      val inbound = pr.join(deg, Seq("id"))
        .select(col("id"), expr("pr DIV deg").as("contrib"))
        .join(edges, col("id") === col("src"))
        .groupBy(col("dst").as("nid")).agg(sum(col("contrib")).as("s"))
      // left join keeps a node whose neighbors all lost rank this round
      // at the base term, mirroring the analytic recurrence exactly
      val next = deg.select(col("id"))
        .join(inbound, col("id") === col("nid"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) DIV 100")).as("pr"))
        .persist(lvl)
      next.count() // materialize before dropping the parent iteration
      pr.unpersist(blocking = false)
      pr = next
      it += 1
    }
    val out = pr.localCheckpoint(eager = true)
    pr.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  /** Per-node triangle counts over an undirected edge list, by
    * DEGREE-ORIENTED wedge join — the distributed-triangle algorithm
    * whose intermediate size is bounded by graph structure instead of
    * hub degree.
    *
    * Why orientation is the whole story: the naive wedge join pairs
    * every two neighbors of every node — Σ deg(v)² rows, quadratic in
    * the hottest hub (a crawl-graph hub with 10⁶ neighbors yields 10¹²
    * wedges). Orienting each edge from its lower-(deg, id)-rank
    * endpoint to its higher one and generating wedges only from OUT-
    * neighborhoods bounds the fanout by out-degree ≤ O(√m) per node
    * (the arboricity argument of Chiba–Nishizeki / the MR triangle
    * literature): Σ outdeg(v)² ≤ O(m^1.5) TOTAL, independent of hub
    * degree. Each triangle {x,y,z} then appears exactly once — as the
    * wedge at its lowest-rank corner closed by the oriented edge
    * between the other two — so no post-hoc dedup or /3 correction is
    * needed; per-node counts come from crediting all three corners.
    *
    * All joins are keyed equi-joins on node ids (shuffle-partitioned,
    * growing with the data, nothing collected); the rank tiebreak (deg,
    * id) makes the orientation — and therefore the join volume, not
    * just the answer — deterministic.
    *
    * Output: (v BIGINT, deg BIGINT, n_tri BIGINT) for every node with
    * degree ≥ 1 (n_tri = 0 for triangle-free nodes).
    */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    // e, deg, and o each feed MULTIPLE consumers (deg: the orientation
    // joins + the final left join; o: w1, w2, and the closing-edge
    // side), and an executed-plan capture at sf0.1 showed ZERO
    // ReusedExchange nodes — every consumer recomputed its subtree
    // from the raw edge self-join (97 independent Exchanges; the r21
    // round left this alone on the assumption runtime reuse dedupes
    // them, which the capture refutes). Eager localCheckpoint fences
    // materialize each shared frame exactly once and hand every
    // consumer a leaf (guide §2.4): measured 4.0 -> 2.4-2.8 s per run
    // at sf0.1, identical rows. Plan-shape tooling sets the session's
    // Materialize.PassthroughKey to keep the full shape visible.
    // Trade-off: e and o are CORPUS-sized (every edge), held as single-
    // replica local blocks with no lineage behind them — losing an
    // executor mid-query loses them and the query must be rerun
    // (Materialize's durability caveat); in exchange each is computed
    // once instead of once per consumer.
    // canonical undirected form: a < b, self-loops dropped, multi-edges
    // collapsed (a triangle is a property of the simple graph)
    val e = Materialize.detached(edges0.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") < col("b"))
      .distinct())(())
    val deg = Materialize.detached(
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg")))(())
    // orient by rank = (deg, id): src = lower rank, dst = higher
    val da = deg.select(col("v").as("a"), col("deg").as("dega"))
    val db = deg.select(col("v").as("b"), col("deg").as("degb"))
    val aLower = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    val o = Materialize.detached(e.join(da, "a").join(db, "b")
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("w"),
        when(aLower, col("degb")).otherwise(col("dega")).as("degw")))(())
    // wedges from out-neighborhoods, ordered by the same rank so the
    // closing edge (w1 → w2) is oriented exactly when the pair is
    val w1 = o.select(col("u"), col("w").as("w1"), col("degw").as("d1"))
    val w2 = o.select(col("u"), col("w").as("w2"), col("degw").as("d2"))
    val wedges = w1.join(w2, "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("w1") < col("w2")))
    val closing = o.select(col("u").as("w1"), col("w").as("w2"))
    val tris = wedges.join(closing, Seq("w1", "w2"))
      .select(col("u"), col("w1"), col("w2"))
    val perNode = tris.select(col("u").as("v"))
      .unionAll(tris.select(col("w1").as("v")))
      .unionAll(tris.select(col("w2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient per node — [[triangleCounts]] plus
    * the one exact IEEE division the coefficient is:
    * c(v) = 2·n_tri(v) / (deg(v)·(deg(v)−1)), NULL where deg < 2 (the
    * denominator vanishes; the coefficient is undefined, and NULL says
    * so louder than a sentinel 0 would — a degree-1 node is not
    * "perfectly unclustered"). Both operands are exact BIGINTs, so the
    * single correctly-rounded division is bit-identical cross-engine.
    * Output: (v, deg, n_tri, coeff).
    */
  def clusteringCoefficients(edges0: DataFrame): DataFrame =
    triangleCounts(edges0).withColumn("coeff",
      when(col("deg") >= 2L, (col("n_tri") * 2L).cast("double") /
        (col("deg") * (col("deg") - 1L)).cast("double")))

  /** Fixed-horizon k-core peeling: `rounds` applications of
    * G_{i+1} = subgraph of G_i induced on {v : deg_{G_i}(v) ≥ k},
    * returning (v, deg) over the FINAL edge set — the standard
    * link-graph curation signal (a crawl host's k-core membership is a
    * spam/quality prior the PageRank tier doesn't capture: cores
    * require mutual density, not just inbound mass).
    *
    * The horizon is FIXED, not convergence-tested — q109's discipline:
    * the result is a pure function of (edges, k, rounds), which is
    * what lets DuckDB mirror it as `rounds` unrolled CTE stages and
    * keeps runtimes predictable (full peeling is data-dependently deep;
    * a production run picks the horizon and reads the survivor curve).
    * Peeling is DRIVER-orchestrated by engine restriction, like q109:
    * WITH RECURSIVE cannot aggregate over the recursive reference
    * (INVALID_RECURSIVE_REFERENCE, contract-pinned in EdgeCaseSpec),
    * and each round needs exactly that — degrees over the shrinking
    * edge set.
    *
    * Scale (100 TB): per round one map-side-combined degree aggregate
    * plus two anti-joins keyed on node ids against the round's DROPPED
    * node set — nothing collected; the dropped set is usually small, so
    * AQE broadcasts it and the shrinking edge set is not exchanged,
    * while a round that drops a huge node mass keeps the shuffled
    * join. The q71/q109 iteration
    * discipline applies verbatim: persist per round, unpersist the
    * previous, localCheckpoint the result so downstream plans don't
    * replay `rounds` join rounds of lineage.
    */
  def kCorePeel(edges0: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def degrees(e: DataFrame) =
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    var e = edges0.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") < col("b"))
      .distinct().persist(lvl)
    var it = 0
    while (it < rounds) {
      // peel by ANTI-joining the DROPPED nodes instead of semi-joining
      // the kept ones — same edge set (every endpoint of e appears in
      // degrees(e), so a ∈ keep ⟺ a ∉ drop; no NULLs on either side),
      // but the join's build side shrinks from nearly-all nodes to the
      // few that fall below k each round, which is what lets AQE turn
      // both joins into broadcasts at runtime: the surviving edge set —
      // the 100-TB side — stops being exchanged twice per round
      // (guide §3.1/§2.4). When a pathological round drops a huge node
      // mass, AQE simply keeps the shuffled join — size-adaptive
      // either way.
      val drop = degrees(e).filter(col("deg") < k).localCheckpoint(true)
      val next = e
        .join(drop.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(drop.select(col("v").as("b")), Seq("b"), "left_anti")
        .persist(lvl)
      next.count() // materialize before dropping the parent round
      e.unpersist(blocking = false)
      e = next
      it += 1
    }
    val out = degrees(e).localCheckpoint(eager = true)
    e.unpersist(blocking = false)
    out
  }
}
