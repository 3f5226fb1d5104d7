package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over an edge-list DataFrame — degree
  * statistics and exact triangle counting. Complements `Dedup.
  * connectedComponents` (the other graph op in the library): CC answers
  * "which docs are the same", triangles/degrees answer structure questions
  * over co-occurrence graphs (shared-entity, co-purchase, flow peering).
  *
  * Scale notes (100 TB edge logs):
  *   - Everything is edge-list relational algebra — no vertex-program
  *     framework, no driver-side adjacency. Joins shuffle on node keys and
  *     Catalyst/AQE plan them like any other equi-join.
  *   - Triangle counting uses the degree-ordered orientation (each
  *     undirected edge directed from its lower-(degree, id) endpoint to the
  *     higher one). Every triangle then has exactly one source node with
  *     two outgoing oriented edges, so the 2-path intermediate is bounded
  *     by Σ C(outdeg, 2) = O(m^{3/2}) instead of Σ C(deg, 2), which a hub
  *     node (degree 10^6 ⇒ 5·10^11 pairs) would otherwise make intractable.
  */
object GraphOps {

  /** Canonical undirected edge list: self-loops dropped, endpoints ordered
    * `u < v`, duplicates collapsed. One shuffle (the distinct).
    */
  def canonicalEdges(df: DataFrame, uCol: String, vCol: String): DataFrame = {
    val u = col(uCol); val v = col(vCol)
    df.filter(u =!= v)
      .select(least(u, v).as("u"), greatest(u, v).as("v"))
      .distinct()
  }

  /** Per-node degree over a canonical edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Degree histogram: how many nodes have each degree. */
  def degreeDistribution(edges: DataFrame): DataFrame =
    degrees(edges).groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Exact global triangle count over a canonical edge list.
    *
    * Orientation: `src → dst` iff (degree, id) of src < (degree, id) of
    * dst — a total order, so each undirected edge gets exactly one
    * direction and each triangle is generated exactly once (from its
    * least endpoint in that order). The 2-path build joins oriented edges
    * on their shared source; the closing join checks the third side in the
    * SAME orientation, so it can use the oriented table again (no second
    * canonical-edge scan).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // The edge list feeds degrees, both 2-path join inputs, and the
    // closing semi-join — un-truncated, a derived edge pipeline (pair
    // explosion + distinct) would re-execute once per consumer (observed
    // 3× work on the co-supplier graph).
    val ce = Pin.truncate(edges)
    val deg = degrees(ce)
    // (degree, id) order packed into one comparable struct-free key is not
    // needed — compare lexicographically with a boolean expression.
    val e = ce
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("degree", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("degree", "dv"), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    // 2-paths from a shared source; id order a<b makes the wedge unique.
    val paths = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
    // Closing edge: (u, v) with u<v is exactly the canonical form, so the
    // check is a plain equi-join against the canonical list (hash/SMJ —
    // an OR-of-directions condition would degrade to nested-loop).
    paths.join(ce, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle counts and local clustering coefficient
    * (2·T(v) / (deg(v)·(deg(v)−1))) — the community-structure signal.
    * Same oriented 2-path join as [[triangleCount]], but each closed
    * wedge credits ALL THREE corners: the wedge source, and both closing
    * endpoints. Coefficient is exact rational-to-double (deterministic).
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val ce = Pin.truncate(edges)
    val deg = degrees(ce)
    val e = ce
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("degree", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("degree", "dv"), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    val wedges = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("w"), col("e1.dst").as("u"), col("e2.dst").as("v"))
    val closed = wedges.join(ce, Seq("u", "v"), "left_semi")
    val perNode = closed.select(explode(array(col("w"), col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }

  /** Fixed-point (integer-arithmetic) PageRank over an undirected canonical
    * edge list, `iters` synchronous rounds.
    *
    * Ranks are BIGINT micro-units (`unit` = 1.0): each round every node
    * keeps `15% · unit` and receives `85% · Σ incoming (r DIV deg)` — all
    * floor divisions on longs. Floating-point PageRank is NOT portable
    * across engines (parallel double sums associate differently); the
    * fixed-point form is bit-exact everywhere at the cost of losing a
    * little mass to flooring each round — fine for ranking use.
    *
    * Scale shape: each round is one equi-join of the rank vector to the
    * directed edge list (both partitioned by the source key — the join and
    * the follow-up groupBy on dst reuse one exchange each) plus one
    * aggregate; rounds are a fixed count, no convergence action.
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 10,
                         unit: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // non-eager: each round still PLANS against a truncated LogicalRDD
    // (checkpointing plans the round immediately, so optimizer time stays
    // linear in `iters`), but nothing materializes until the caller's
    // action — 10 driver-blocking per-round jobs collapse into one.
    def truncate(df: DataFrame): DataFrame = Pin.truncate(df, eager = false)
    // both directions: undirected rank flow. The edge list and the rank
    // state are both lineage-truncated: without this every round's plan
    // embeds all previous rounds (and re-derives the edge list), and
    // optimizer time alone grows superlinearly in `iters` — the 10-round
    // plan took ~10× longer to PLAN than to run.
    val dir = truncate(edges.select(col("u").as("s"), col("v").as("d"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("d"))))
    val deg = dir.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val keep = lit(15L * unit / 100)
    // carry deg in the rank state so each round joins once, not twice
    var state = deg.select(col("s").as("node"), col("deg"), lit(unit).as("r"))
    for (_ <- 1 to iters) {
      val contrib = dir
        .join(state.withColumnRenamed("node", "s"), Seq("s"))
        .select(col("d").as("node"), expr("r DIV deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      state = truncate(state.drop("r")
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"),
          (keep + expr("85 * coalesce(m, CAST(0 AS BIGINT)) DIV 100")).as("r")))
    }
    state.select(col("node"), col("r"))
  }

  /** Multi-source BFS: minimum hop count from any seed node, bounded at
    * `maxHops`. The edge list is symmetrized into an undirected adjacency
    * (same as [[pageRankFixedPoint]]), so hops measure undirected
    * reachability. Frontier-relational: each round is ONE equi-join of
    * the current frontier to the symmetrized edge list plus an anti-join
    * against the visited set — the textbook distributed BFS (no vertex
    * program, no driver adjacency). Rounds are a fixed count, and both
    * the visited set and the frontier are lineage-truncated per round
    * (same rationale as [[pageRankFixedPoint]]: without it round N's plan
    * embeds rounds 1..N−1 and optimizer time goes superlinear). The
    * frontier holds only NEWLY-visited nodes, so total frontier work over
    * the whole run is bounded by |V| even though an individual round's
    * frontier may grow or shrink; at 100 TB the per-round shuffle is
    * O(frontier ⋈ edges), never O(n²).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    def truncate(df: DataFrame): DataFrame = Pin.truncate(df, eager = false)
    val dir = truncate(edges.select(col("u").as("s"), col("v").as("d"))
      .unionAll(edges.select(col("v").as("s"), col("u").as("d"))))
    var visited = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("hop"))
    var frontier = visited.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = truncate(dir
        .join(frontier.withColumnRenamed("node", "s"), Seq("s"))
        .select(col("d").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop")))
      visited = truncate(visited.unionAll(next))
      frontier = next.select(col("node"))
    }
    visited
  }
}
