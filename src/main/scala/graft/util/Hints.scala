package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hints.
  *
  * An explicit `broadcast()` is obeyed REGARDLESS of relation size:
  * the hint overrides `autoBroadcastJoinThreshold`, so past Spark's
  * hard broadcast limit (8 GB / 512M rows per build, or driver OOM
  * collecting it) the query ABORTS — it does not fall back to a
  * shuffle join. A hint on a node-, doc-, or edge-derived table is
  * therefore only safe under a size bound. [[maybeBroadcast]] applies
  * the hint only when the caller's row estimate stays under
  * [[broadcastRowCap]]; above it the join runs un-hinted, where AQE
  * still broadcasts at runtime if the actual bytes allow and
  * otherwise plans the keyed shuffle join — the genuinely graceful
  * degradation a bare hint never had.
  *
  * Cap arithmetic: 4M rows at ~100 B/row of hash-relation overhead
  * is ~400 MB per broadcast build — 20× under the 8 GB hard cap and
  * still sane to replicate across a large cluster. Callers whose
  * build rows are wide (adjacency lists, collected arrays) should
  * gate on the CELL count (e.g. the edge count behind the lists),
  * not the row count.
  *
  * The iterative graph loops gate once per invocation on a count of
  * an already-persisted/checkpointed table (node sets are
  * round-invariant), so the gate costs one cached-block scan, and
  * every per-round hint inside the loop reuses the same verdict.
  * Those loops are the (min, +) relaxation and the PageRank core in
  * `graft.ops.GraphRounds` (connected components, both shortest-path
  * rows, both PageRank rows), eigenvector and Katz centrality, the
  * planted-graph BFS levels, k-core peeling and the min-label
  * connected-components fixpoint. The triangle core, the basket-lift
  * item table, betweenness, MinHash containment stats and the
  * dedup-cluster tiers gate the same way on their own edge or row
  * counts.
  */
object Hints {

  /** Row-estimate bound under which [[maybeBroadcast]] hints.
    * Read per call so tests can force the shuffle path with
    * -Dgraft.broadcast.rowCap=0 (HintsSpec drives both plans). */
  def broadcastRowCap: Long =
    sys.props.get("graft.broadcast.rowCap").map(_.toLong)
      .getOrElse(4L * 1000 * 1000)

  /** Broadcast hint gated on the caller's row estimate: the
    * returned function is `broadcast` when `estRows` fits under
    * [[broadcastRowCap]] and `identity` otherwise. */
  def maybeBroadcast(estRows: Long): DataFrame => DataFrame =
    if (estRows <= broadcastRowCap) broadcast(_) else identity
}
