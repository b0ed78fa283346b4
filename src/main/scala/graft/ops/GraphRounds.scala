package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous-round graph loops: ONE (min, +) relaxation and ONE
  * PageRank power iteration, each owning its round policy once.
  *
  *  - [[relax]] serves `graph_connected_components` (w = 0: HashMin
  *    over closed neighbourhoods), `graph_shortest_path` (w = 1) and
  *    `graph_shortest_path_weighted` (co-purchase multiplicities).
  *  - [[pageRank]] serves `graph_pagerank_personalized` (seeded
  *    teleport) and `graph_pagerank` (every node a seed: Catalyst
  *    folds `when(true, x)` to `x` and drops `filter(true)`, so the
  *    arithmetic is the uniform-teleport formula).
  *
  * Scale shape shared by both: the edge table is materialized ONCE
  * (localCheckpoint), the node-sized per-round table is broadcast
  * into the edge scan under ONE size gate on the round-invariant
  * node count (graft.util.Hints — past the cap the joins plan
  * node-keyed shuffles instead of hard-failing at the broadcast
  * limit), and each round pays one node-keyed exchange.
  */
object GraphRounds {

  /** Unreached-distance sentinel: far above any k-round reachable
    * distance (k·max-weight), far below overflow when a round adds a
    * weight on top of it. Requires NON-NEGATIVE weights (all callers:
    * 0, unit hops or co-purchase multiplicities). */
  private[graft] val Unreached: Long = Long.MaxValue / 4

  /** Node universe src ∪ dst of an edge table, pinned. */
  private[graft] def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()

  /** `k` synchronous (min, +) rounds over a (src, dst, w) edge list:
    * d_r(v) = min over (v, u, w) of d_{r-1}(u) + w, where every node
    * carries a zero-weight self-loop, so the closed-neighbourhood min
    * keeps d_{r-1}(v) — one join + one map-side-combining aggregate
    * per round, no re-attach join. `init` maps the node universe
    * (src ∪ dst, one `node` column) to the round-0 (node, d) table.
    * Relaxation follows edge direction; pass both directions for an
    * undirected graph. Returns the final (node, d) table, checkpointed.
    *
    * Self-loops come from a `distinct` node set, never from
    * `filter(w = 0)`, which would double-count nodes a caller links
    * by genuine zero-weight edges. Unreached nodes should start at
    * [[Unreached]]: a self-loop keeps them there and an unreached
    * neighbour contributes ≥ Unreached + w, so reached minima are
    * never touched by the sentinel.
    *
    * Round policy: each round is persisted, not checkpointed — its
    * broadcast collect materializes the previous round's cache, so
    * every round runs once without a standalone job. An in-loop
    * unpersist would drop caches before anything executed; instead
    * ONE final localCheckpoint materializes the chain and every round
    * cache is dropped after it, so repeated calls retain O(1)
    * storage. */
  private[graft] def relax(edges: DataFrame, init: DataFrame => DataFrame,
      k: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .unionAll(edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node"))).distinct()
        .select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w")))
      .localCheckpoint()
    var dist = init(e.select(col("src").as("node")).distinct()).persist()
    val hint = graft.util.Hints.maybeBroadcast(dist.count())
    val rounds = scala.collection.mutable.ListBuffer(dist)
    for (_ <- 1 to k) {
      dist = e
        .join(hint(dist.select(col("node").as("dst"), col("d").as("pd"))),
          "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("pd") + col("w")).as("d"))
        .persist()
      rounds += dist
    }
    val finalDist = dist.localCheckpoint()
    rounds.foreach(_.unpersist(false))
    finalDist
  }

  /** Distance histogram of `k` seeded [[relax]] rounds over a
    * (src, dst, w) edge list: `seed` marks distance-0 nodes, unreached
    * nodes bucket at -1. Returns (distance, n_nodes). */
  private[graft] def distanceHistogram(edges: DataFrame,
      seed: Column => Column, k: Int): DataFrame =
    relax(edges, _.select(col("node"),
        when(seed(col("node")), lit(0L)).otherwise(lit(Unreached)).as("d")),
      k)
      .groupBy(when(col("d") >= Unreached, lit(-1L)).otherwise(col("d"))
        .as("distance"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("distance")

  /** Personalized PageRank over a (src, dst) edge list: the teleport
    * mass (1 − damping) restarts uniformly over the nodes `seed`
    * selects, and the round-0 ranks are uniform over them too; with
    * `_ => lit(true)` this is standard PageRank. The node set is
    * src ∪ dst, so sink nodes (dst-only) receive rank; their mass is
    * NOT redistributed (on a symmetric graph there are no sinks and
    * mass is conserved). Duplicate (src, dst) rows act as edge
    * weights. Returns (node, r) ordered by node.
    *
    * The edge table is materialized once with its out-degree as a
    * window column; the iterations chain lazily into one job. Ranks
    * round to 12 dp per iteration: each engine's sum-order drift is
    * ~1e-15 while ranks are ~1e-3, so both engines land on the same
    * grid point every iteration and stay in exact lockstep. */
  private[graft] def pageRank(edgeList: DataFrame, seed: Column => Column,
      iterations: Int, damping: Double): DataFrame = {
    val edgesD = edgeList
      .withColumn("d", count(lit(1)).over(Window.partitionBy("src")))
      .localCheckpoint()
    val nodes = nodesOf(edgesD)
    // |seeds| rides the plan as a 1-row broadcast (the oracle's CTE);
    // the count below only feeds the hint gate, never the arithmetic.
    val ns = broadcast(nodes.filter(seed(col("node")))
      .agg(count(lit(1)).cast("double").as("ns")))
    val hint = graft.util.Hints.maybeBroadcast(nodes.count())
    var ranks = nodes.crossJoin(ns)
      .select(col("node"),
        when(seed(col("node")), lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = edgesD.join(hint(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("d")).as("contrib"))
      ranks = nodes.crossJoin(ns)
        .join(hint(contrib), col("node") === col("dst"), "left")
        .select(col("node"),
          round(when(seed(col("node")), lit(1.0 - damping) / col("ns"))
              .otherwise(lit(0.0))
            + lit(damping) * coalesce(col("contrib"), lit(0.0)), 12).as("r"))
    }
    ranks.orderBy("node")
  }
}
