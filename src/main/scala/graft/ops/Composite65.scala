package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.81 (round-26 batch 3) — eigenvector centrality:
  *
  *  - [[eigenvectorCentrality]]: plain (undamped) eigenvector
  *    centrality by L1-normalized power iteration over the
  *    co-purchase graph — the textbook member of the centrality
  *    family still missing next to `graph_pagerank` (damped,
  *    degree-normalized), `graph_harmonic_closeness` (distance),
  *    `graph_betweenness_approx` (paths) and `graph_kcore`
  *    (density): x ← A·x / ‖A·x‖₁, 5 fixed iterations from the
  *    uniform vector. On the symmetric connected co-purchase graph
  *    the iterate converges toward the Perron vector; surfacing the
  *    fixed-iteration state (not a convergence loop) is the
  *    pagerank discipline — identical whether or not converged.
  *
  * Scale shape: the edge table is built ONCE (localCheckpoint) with
  * the score table |nodes|-sized — vocabulary-small next to edges —
  * so each iteration is ONE map-side-combined contribution
  * aggregate with the score table size-gate-broadcast into the edge
  * scan (graft.util.Hints; past the cap the same algebra re-plans
  * as keyed shuffle joins). Unlike pagerank — whose normalizer |V|
  * is round-invariant — the L1 norm is recomputed per round, and its
  * shape is GATED on the same node-count bound the broadcast hint
  * uses (VERDICT r15 item 2):
  *
  *  - UNDER the cap, the norm is a global window over the
  *    |nodes|-bounded score relation, fusing all 5 rounds into one
  *    lazy job. A two-consumer norm (aggregate + next-round join)
  *    here would either double the lineage per round (2^5 plan
  *    blowup) or force a per-round localCheckpoint — measured
  *    +2.3 s over the whole-chain-lazy form at sf0.1 (5
  *    materialized rounds vs pagerank's one fused job). The
  *    single-partition window is safe exactly BECAUSE the gate
  *    holds: under the broadcast row cap the score table fits one
  *    window partition (the chi-square-margins / topk_global
  *    class).
  *
  *  - PAST the cap — node ids here are partkeys, which grow with
  *    the corpus, not an alphabet — a single-partition window over
  *    |nodes| is the row's scale-killer (5 full-vector funnels
  *    through one task). The norm instead becomes a 1-row
  *    sum aggregate broadcast back via crossJoin (always
  *    broadcast-safe at any |V|) over a per-round localCheckpoint
  *    of the coalesced score relation — the pagerank `nn`
  *    discipline: the checkpoint pins the two-consumer relation
  *    (norm aggregate + next round's join) so lineage stays linear,
  *    trading 5 materialized rounds for per-round full parallelism.
  *
  * Both paths compute the identical rounded grid (Composite65Spec
  * drives them against each other through the rowCap override).
  *
  * Float determinism: per-iteration scores round to 12 dp — each
  * engine's contribution/norm sum-order drift is ~1e-15 relative
  * while scores are ~1e-3 on a ~1e-12 grid, so both engines land on
  * the same grid point every round and stay in exact lockstep (the
  * pagerank argument, VERDICT r3-verified for that row).
  */
object Composite65 {

  private val EvIters = 5

  /** Power-iteration core over a directed edge list (src, dst) —
    * symmetric input ⇒ the undirected eigenvector. Test seam for the
    * planted-graph spec. */
  private[graft] def eigenvectorOn(edgeList: DataFrame,
      iterations: Int = EvIters): DataFrame = {
    val edgesD = edgeList.localCheckpoint()
    val nodes = GraphRounds.nodesOf(edgesD)
    // One size gate per invocation (node count is round-invariant;
    // cached-block scan) reused by every per-round hint AND by the
    // norm-shape choice below.
    val nodeCount = nodes.count()
    val hint = graft.util.Hints.maybeBroadcast(nodeCount)
    val fusedNorm = nodeCount <= graft.util.Hints.broadcastRowCap
    val nn = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    var scores = nodes.crossJoin(nn)
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    for (_ <- 1 to iterations) {
      val contrib = edgesD.join(hint(scores), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r")).as("cr"))
      // Left join + coalesce(0): isolated dst-only nodes keep a 0
      // score rather than dropping out of the vector.
      val coalesced = nodes
        .join(hint(contrib), col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("cr"), lit(0.0)).as("cr"))
      scores =
        if (fusedNorm)
          // Under the cap: the global window reads the SAME relation
          // it normalizes, so the whole 5-round chain stays one lazy
          // job (see scale note above).
          coalesced.select(col("node"),
            round(col("cr") / sum(col("cr")).over(wAll), 12).as("r"))
        else {
          // Past the cap: pin the two-consumer relation, then
          // normalize by a 1-row aggregate broadcast back — no
          // single-partition funnel at any |V|.
          val pinned = coalesced.localCheckpoint()
          val norm = broadcast(pinned.agg(sum(col("cr")).as("l1")))
          pinned.crossJoin(norm)
            .select(col("node"), round(col("cr") / col("l1"), 12).as("r"))
        }
    }
    scores.orderBy("node")
  }

  private def eigenvectorCentrality(s: SparkSession, dir: String): DataFrame =
    eigenvectorOn(Composite4.coPurchaseEdges(s, dir))

  /** Oracle: the same 5 iterations unrolled as chained CTEs (DuckDB
    * has no iterative loop; WITH RECURSIVE cannot re-normalize per
    * step). The per-round L1 norm is a `sum() OVER ()` window on the
    * coalesced score relation — NOT a separate CTE: DuckDB inlines a
    * non-recursive CTE PER REFERENCE, so a contrib CTE consumed by
    * both a norm aggregate and the node join re-expands its whole
    * upstream chain twice per round (2^5 plan blowup — observed as
    * an 80 GB temp spill at sf0.1). The window form keeps every CTE
    * single-reference, i.e. the strictly linear chain
    * `graph_pagerank`'s oracle already proved out. The left join +
    * coalesce(0) keeps sink-only nodes in the vector exactly as the
    * Spark side does; summing the coalesced zeros cannot move an
    * IEEE sum. */
  private def eigenvectorOracle: String = {
    val iters = (1 to EvIters).map { i =>
      s"""r$i AS (
         |  SELECT node, round(cr / sum(cr) OVER (), 12) AS r FROM (
         |    SELECT n2.node, coalesce(c.cr, CAST(0 AS DOUBLE)) AS cr
         |    FROM nodes n2 LEFT JOIN (
         |      SELECT e.dst AS node, sum(p.r) AS cr
         |      FROM edges e JOIN r${i - 1} p ON e.src = p.node
         |      GROUP BY e.dst) c ON n2.node = c.node))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey <> b.l_partkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS r
       |  FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, r FROM r$EvIters ORDER BY node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_eigenvector_centrality" -> (eigenvectorCentrality _)
  )

  val oracle: Map[String, String] = Map(
    "graph_eigenvector_centrality" -> eigenvectorOracle
  )
}
