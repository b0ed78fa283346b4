package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayMaxLE, CosineSim}
import graft.ops.{LlmOps, LlmOps2, LlmOps3, LlmOps4, Relational}

/** User-facing facade: the engine's reusable operations as a plain
  * library API over DataFrames (the driver-contract surface in
  * [[SparkEntry]] wires these same building blocks to the fixed test
  * corpus). Everything is lazy DataFrame algebra — callers compose
  * further and Catalyst plans the whole.
  *
  * {{{
  *   import graft.Graft
  *   val dupes   = Graft.nearDuplicates(docs)            // MinHash-LSH
  *   val sh      = Graft.simhashPairs(docs, maxHamming = 3)
  *   val knn     = Graft.annTopK(embeddings, $"vec_id" < 100, k = 10)
  *   val asOf    = Graft.asOfProbe($"sorted_times", $"event_time")
  *   val cos     = Graft.cosine($"a.embedding", $"b.embedding")
  * }}}
  */
object Graft {

  /** MinHash-LSH near-duplicate pairs over (doc_id, text) with exact
    * Jaccard >= 0.8 verification. Banded candidate generation — never
    * an all-pairs product. */
  def nearDuplicates(docs: DataFrame): DataFrame = LlmOps.nearDupPairs(docs)

  /** SimHash near-duplicate pairs over (doc_id, text): 64-bit
    * signatures, 16-bit band blocking, Hamming <= maxHamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    LlmOps2.simhashPairs(docs, maxHamming)

  /** LSH-bucketed approximate top-k neighbours over
    * (vec_id, embedding) for the rows matching isQuery. */
  def annTopK(embeddings: DataFrame, isQuery: Column, k: Int): DataFrame =
    LlmOps2.annTopK(embeddings, isQuery, k)

  /** Fused cosine similarity of two float-vector columns (custom
    * codegen expression — no per-row allocation). */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)

  /** Fused double dot product of two float-vector columns. With
    * per-vector norms precomputed, `dot * invNormA * invNormB` is the
    * cheap form of cosine inside an n² pair scan. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** As-of probe: greatest element of the sorted array column that is
    * <= key (custom codegen binary search). Pair with a broadcast
    * `sort_array(collect_set(...))` for broadcast-as-of joins; for
    * high-cardinality keys use the union + partitioned-window merge
    * (see SURVEY §2.3 `join_asof_partitioned`). */
  def asOfProbe(sortedArray: Column, key: Column): Column =
    ArrayMaxLE(sortedArray, key)

  /** Exact-duplicate survivor keys for (keyCol, payload): the minimum
    * key per distinct payload hash — deterministic, shuffle on the
    * content hash. (Same definition the oracle-checked
    * `llm_dedup_exact` query uses.) */
  def exactDedupSurvivors(df: DataFrame, keyCol: Column, payload: Column): DataFrame =
    LlmOps.exactSurvivorKeys(df, keyCol, payload)

  /** Bloom-prefiltered membership: rows of `incoming` whose `key`
    * exists in `seen`. The bloom prunes the probe side BEFORE the
    * exact left-semi verify join, so only the suspected-seen fraction
    * ever shuffles — the incremental-ingest primitive. */
  def seenFilter(seen: DataFrame, incoming: DataFrame, key: String): DataFrame =
    LlmOps3.seenFilter(seen, incoming, key)

  /** IVF approximate k-NN over (vec_id, embedding): deterministic
    * coarse centroids partition the corpus into cells; queries probe
    * the `nprobe` nearest cells only. */
  def ivfTopK(embeddings: DataFrame, isQuery: Column, k: Int,
      nprobe: Int = 2): DataFrame =
    LlmOps3.ivfTopK(embeddings, isQuery, k, nprobe)

  /** Benchmark decontamination over (doc_id, text): rows NOT matching
    * isEval that share any word 5-gram with the isEval split, with
    * distinct-shared-gram counts. */
  def decontaminate(docs: DataFrame, isEval: Column): DataFrame =
    LlmOps3.decontaminate(docs, isEval)

  /** Deterministic data mixing over (doc_id, source): cap every
    * source at the smallest source's count, keeping lowest doc_ids. */
  def domainMix(docs: DataFrame): DataFrame = LlmOps3.domainMix(docs)

  /** Repetition score over (doc_id, text): top-bigram share of each
    * doc's bigrams — boilerplate/spam quality signal. */
  def repetitionScore(docs: DataFrame): DataFrame =
    LlmOps3.repetitionScore(docs)

  /** Streaming: watermarked stream-stream interval join of clicks to
    * same-user purchases within the following hour (state evictable
    * on both sides). Works on batch frames too. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    graft.streaming.Streams.clickPurchaseJoin(clicks, purchases)

  /** Streaming: one alert row per `step` multiple a user's running
    * total crosses (flatMapGroupsWithState; 0..n outputs per epoch). */
  def thresholdAlerts(events: DataFrame, step: Double): DataFrame =
    graft.streaming.Streams.thresholdAlerts(events, step)

  /** Inner as-of join through the bespoke physical operator
    * ([[graft.plans.AsOfJoinExec]]): each left row paired with the
    * right row sharing `key` whose `time` is the greatest <= the left
    * `time`. Both sides co-partition on the key and stream one sorted
    * merge pass — the shape for key sets too large to broadcast. */
  def asOfJoin(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame =
    graft.plans.AsOfJoin(left, right, leftKey, rightKey, leftTime, rightTime)

  /** Bucketized band join: all (left, right) pairs sharing a key with
    * |leftTime - rightTime| <= width — planned as an EQUI-join on
    * (key, time-cell) with a residual band filter, never a per-key
    * product. Column names must be disjoint; times integral in the
    * same unit as width. */
  def bandJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String,
      rightTime: String, width: Long): DataFrame =
    Relational.bandJoin(left, right, leftKey, rightKey, leftTime,
      rightTime, width)

  /** Undirected connected components of an (a, b) edge list by
    * min-label propagation: returns (node, cluster_id = min reachable
    * node). One shuffle join per round, O(component diameter) rounds,
    * lineage truncated per round — the pairs→clusters tail of a dedup
    * pipeline. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    LlmOps4.connectedComponents(edges, maxIter)

  /** Deterministic hash-threshold keep predicate: true iff the 2-hex
    * md5 prefix of (salt-stamped) `id` is <= hexMax ("28" keeps
    * ~16%). A pure row property — the sample is reproducible across
    * engines, partitionings, and reruns, unlike seeded RNG sampling. */
  def hashSampleKeep(id: Column, hexMax: String): Column =
    LlmOps4.hashKeep(id, hexMax)

  /** Corpus bigram LM over (doc_id, text): (w1, w2, c12, prob) from
    * exact counts; both aggregates hash on the leading word. */
  def bigramLm(docs: DataFrame): DataFrame = LlmOps4.bigramLm(docs)

  /** Per-doc cross-entropy under the corpus's own bigram LM — the
    * LM-based quality-filter signal (doc bigrams join a broadcast
    * vocabulary-sized LM; one hash-agg per doc). */
  def lmScore(docs: DataFrame): DataFrame = LlmOps4.lmScore(docs)

  /** SemDeDup (arXiv:2303.09540): cluster-blocked cosine pairs at/
    * above `threshold` resolved to components; every row returns with
    * its min-id representative and a survivor flag. */
  def semDedup(vectors: DataFrame, idCol: String, clusterCol: String,
      embCol: String, threshold: Double): DataFrame =
    LlmOps4.semDedup(vectors, idCol, clusterCol, embCol, threshold)

  /** Fixed-size overlapping character chunks (RAG / context-window
    * prep): one (id, start, chunk) row per stride offset; pure map
    * stage. */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame =
    LlmOps4.docChunks(docs, idCol, textCol, width, stride)

  /** CDC latest-row-wins compaction: one surviving row per key — the
    * greatest under `orderCols` (end with a unique id for a
    * deterministic pick). One `max_by` hash aggregate; no window
    * sort. */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String]): DataFrame =
    graft.ops.Events.latestByKey(df, keyCols, orderCols)

  /** Per-user running totals via Spark 4 `transformWithState` (typed
    * ValueState carried across micro-batches; in batch, one state
    * epoch). Input needs `user_id` and `value` columns. */
  def runningTotals(events: DataFrame): DataFrame =
    graft.streaming.StatefulOps.runningTotals(events).toDF()

  /** Bounded most-recent-`keep` event types per user via
    * `transformWithState` ListState (needs `user_id`/`ts`/`event_id`/
    * `event_type`). */
  def recentEvents(events: DataFrame, keep: Int): DataFrame =
    graft.streaming.StatefulOps.recentEvents(events, keep).toDF()

  /** Per-user inactivity sessions via `transformWithState` event-time
    * timers: interim counts each batch, a closed row when the
    * watermark passes last-seen + `gap` (streaming; batch emits the
    * single-epoch interim counts). */
  def inactivitySessions(events: DataFrame,
      gap: java.time.Duration): DataFrame =
    graft.streaming.StatefulOps.inactivitySessions(events, gap).toDF()

  /** Okapi BM25 score per doc against a fixed bag of query terms:
    * one token explode + two co-partitioned hash aggregates; corpus
    * stats and document frequencies are 1-row broadcasts. Returns
    * (idCol, bm25), 6-dp rounded. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    graft.ops.LlmOps5.bm25Scores(docs, idCol, textCol, terms, k1, b)

  /** Reciprocal-rank fusion of two (idCol, scoreCol) rankings, each
    * truncated to its top-`topN` via TakeOrderedAndProject (no global
    * sort): Σ 1/(k + rank), absent rankings contributing 0. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      scoreCol: String, k: Int = 60, topN: Int = 100): DataFrame =
    graft.ops.LlmOps5.rrfFuse(a, b, idCol, scoreCol, k, topN)

  /** Gopher/RefinedWeb duplicated-n-gram coverage: per doc, the
    * fraction of its `n`-token spans occurring in any OTHER doc.
    * One shuffle on the span hash + one per-doc aggregate. */
  def dupSpanFraction(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    graft.ops.LlmOps5.dupSpanFractions(docs, idCol, textCol, n)

  /** 16-bit Morton (Z-order) interleave of two 8-bit column values —
    * the clustering key behind the sink_zorder layout rewrite
    * (min-max scale your dimensions to 0..255 first). */
  def morton(x: Column, y: Column): Column = graft.ops.Scans.morton(x, y)

  /** SQL-semantics `ntile(buckets)` over a total order with NO
    * single-partition stage (range partition → broadcast prefix
    * offsets → per-partition row_number) — the entity-scale
    * replacement for a bare `Window.orderBy` ntile. `sort` must be a
    * total order (append a unique tie-breaker). */
  def globalNtile(df: DataFrame, as: String, buckets: Int,
      sort: Seq[Column]): DataFrame =
    graft.util.DistRank.globalNtile(df, as, buckets, sort)

  /** PageRank over an edge list with columns (src, dst): the
    * personalized-PageRank core (`graph_pagerank_personalized`'s loop)
    * with every node a seed, i.e. uniform teleport. The edge table is
    * checkpointed once with out-degree attached; each iteration
    * broadcasts the node-sized rank table into a map-side-combined
    * contribution aggregate (no recurring edge shuffle) while the
    * node count fits the size gate, and plans node-keyed shuffle
    * joins past it. Ranks are rounded to 12 dp per iteration so
    * reruns are bit-stable. Pass a DISTINCT edge list for standard
    * PageRank — duplicate (src, dst) rows act as edge weights (each
    * repeat contributes a share). Sink nodes keep their base rank;
    * their mass is not redistributed. Returns (node, r). */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      damping: Double = 0.85): DataFrame =
    graft.ops.GraphRounds.pageRank(edges, _ => lit(true), iterations, damping)

  /** Per-dimension z-score standardization of a vector column:
    * posexplode → per-dimension moments (broadcast back) →
    * struct-sorted reassembly. Returns (vec_id, zvec) with 6-dp
    * rounded elements; a zero-variance (constant) dimension yields
    * NULL at that position rather than NaN. */
  def standardize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.ops.LlmOps6.standardizeOn(vectors, idCol, vecCol)

  /** Per-document Shannon entropy (bits) of the token distribution,
    * in the single-pass Σ c·ln c form — a gibberish/boilerplate
    * quality-filter feature. Tokenization is the corpus convention
    * used across the llm ops: split on single spaces (pre-normalize
    * other whitespace first if your text has it). Returns
    * (doc_id, n_tokens, entropy_bits). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.LlmOps6.tokenEntropyOn(docs, idCol, textCol)

  /** All pairwise Pearson correlations over the given (alias → SQL
    * expression) variables in ONE pass: every moment and cross sum is
    * computed in a single map-side-combining aggregate and the C(n,2)
    * statistics unpivot from the one aggregated row. Pass exact
    * (decimal-cast) expressions for money columns; a constant
    * (zero-variance) variable makes its pairs NaN, as correlation is
    * undefined there. Returns (pair, corr) with 6-dp rounding. */
  def corrMatrix(df: DataFrame, vars: Seq[(String, String)]): DataFrame =
    graft.ops.Composite4.corrMatrixOn(df, vars)

  /** One Lloyd iteration of k-means: assign every (idCol, vecCol) row
    * to its nearest centroid by cosine (6-dp rounded, ties to the
    * lowest centroid id) and re-average members per dimension. The
    * centroid table — columns named (cid, cvec), float or double
    * vectors — broadcasts, so assignment is map-side at any corpus
    * size. idCol must be unique (duplicate ids would collapse to one
    * assignment). Returns (cid, n_members, centroid); iterate with
    * `prev.select($"cid", $"centroid".as("cvec"))`. Clusters that
    * attract no members are dropped (the standard Lloyd empty-cluster
    * behavior) — re-seed if k must stay fixed. */
  def kmeansStep(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    graft.ops.LlmOps6.kmeansStepOn(vectors, idCol, vecCol, centroids)

  /** Per document: the fraction of its `n`-token spans whose FIRST
    * corpus appearance (minimum id over the span's occurrences) is
    * this document — the novelty curve used to audit corpus growth.
    * Docs shorter than `n` tokens drop out. One shuffle on the span
    * hash (window min, no per-row set materialization) + a per-doc
    * aggregate. Returns (idCol, n_ngrams, novelty) with novelty
    * 6-dp rounded; ids must be orderable (novelty is defined against
    * the id order, e.g. ingestion order). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    graft.ops.LlmOps7.ngramNovelties(docs, idCol, textCol, n)

  /** DSIR importance scores (Xie et al. 2023, arXiv:2302.03169):
    * each document's mean per-token log-ratio of a Laplace-smoothed
    * target unigram LM (rows where `isTarget` is true) against the
    * whole-corpus LM — sample by or threshold on the score to tilt a
    * mixture toward the target domain. The vocabulary-sized word
    * stats broadcast, so scoring is map-side per token. Returns
    * (idCol, n_tokens, dsir_score) with 6-dp rounding; scores are
    * comparable only within one corpus+target pair. */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame =
    graft.ops.LlmOps7.dsirScoresOn(docs, idCol, textCol, isTarget)

  /** Triangle count + global clustering coefficient over an
    * undirected edge list (columns (src, dst), one row per unordered
    * pair, no self-loops). Degree-ordered orientation bounds every
    * adjacency list at √(2E), so the per-edge neighborhood
    * intersection never materializes the naive Σdeg² wedge
    * explosion. Returns one row (n_nodes, n_edges, n_triangles,
    * clustering_coeff) with the coefficient 3T/Σ C(deg,2) 6-dp
    * rounded. */
  def triangleCount(edges: DataFrame): DataFrame =
    graft.ops.Composite10.triangleCountOn(edges)

  /** Synchronized k-core peeling trace over a directed-symmetric edge
    * list (src, dst): each round keeps nodes whose degree among
    * survivors is ≥ k, and emits (iter, n_nodes, n_dir_edges) for
    * rounds 1..`rounds`. Converged fixed points short-circuit — the
    * remaining rounds repeat the stable row without another edge
    * pass. The edge list checkpoints lazily on the first real peel
    * (a trace that converges immediately costs one edge pass total).
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int = 5): DataFrame =
    graft.ops.Composite15.kcoreOn(edges, k, rounds)

  /** Multi-source hop-bounded BFS distance histogram over a
    * directed-symmetric (src, dst) edge list: `seed` marks the
    * distance-0 nodes, `maxHops` synchronized Bellman-Ford rounds
    * relax at unit weight, unreached nodes bucket at -1. This is the
    * (min, +) relaxation core that `graph_connected_components` and
    * `graph_shortest_path(_weighted)` share: one broadcast-joined
    * node-keyed min exchange per round under the node-count size
    * gate. Returns (distance, n_nodes). */
  def shortestPathHistogram(edges: DataFrame, seed: Column => Column,
      maxHops: Int): DataFrame =
    graft.ops.GraphRounds.distanceHistogram(
      edges.withColumn("w", lit(1L)), seed, maxHops)

  /** 1- and 2-hop ego-network sizes (seed excluded) for the nodes
    * `seed` selects, over a directed-symmetric (src, dst) edge list.
    * Seed-bounded: the frontier expansion filters edges to seeds
    * first and never rescans the graph per seed. */
  def egoSizes(edges: DataFrame, seed: Column => Column): DataFrame =
    graft.ops.Composite32.egoSize2HopOn(edges, seed)

  /** Weighted multi-source shortest-path distance histogram over a
    * (src, dst, w) edge list with NON-NEGATIVE weights: `maxHops`
    * synchronized Bellman-Ford rounds relax min(d + w) along edge
    * direction; unreached nodes bucket at -1. The node universe is
    * src ∪ dst, so a directed list keeps its sink-only nodes. Note
    * maxHops bounds the HOP count, not the accumulated weight. The
    * same relaxation core as [[shortestPathHistogram]]. Returns
    * (distance, n_nodes). */
  def shortestPathWeightedHistogram(edges: DataFrame, seed: Column => Column,
      maxHops: Int): DataFrame =
    graft.ops.GraphRounds.distanceHistogram(edges, seed, maxHops)

  /** Orphan-FK audit: one (edge, n_child, n_orphans) row per
    * (name, child, fkCol, parent, pkCol) tuple. NULL fks count as
    * child rows but never as orphans; parent keys are deduped before
    * the join so non-unique parents cannot double-count. */
  def referentialIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    graft.ops.Composite33.referentialIntegrityOn(edges)

  /** One-step-ahead truncated-EWMA backtest (alpha = 1/2, 16 lags) of
    * daily counts per `event_type` over an (event_type, ts) event
    * stream: MAE, bias, and the lag-1 naive baseline's MAE on the
    * same scored rows. Exact-integer error numerators by
    * construction (weights 2^(16-j)/65535). */
  def ewmaBacktest(events: DataFrame): DataFrame =
    graft.ops.Composite33.ewmaBacktestOn(events)

  /** One-sided CUSUM drift monitor of daily counts per `event_type`
    * over an (event_type, ts) event stream: peak accumulated
    * evidence vs the integer mean reference, its first attaining
    * day, and the net deviation. All exact integers. */
  def cusumDrift(events: DataFrame): DataFrame =
    graft.ops.Composite34.cusumDriftOn(events)

  /** B=32 deterministic Poisson(1) bootstrap replicates of
    * mean(l_extendedprice) over a lineitem-shaped relation — md5-
    * thresholded weights make both the draw and the replicate means
    * reproducible run-to-run and engine-to-engine. */
  def poissonBootstrap(li: DataFrame): DataFrame =
    graft.ops.Composite34.poissonBootstrapOn(li)

  /** Modularity decomposition of the c(n) = n % 50 assignment over a
    * half-edge (src, dst) list: per community, node/within-edge/
    * degree counts and the Q contribution e_c/m - (a_c/2m)^2. */
  def modularity(halfEdges: DataFrame): DataFrame =
    graft.ops.Composite34.modularityOn(halfEdges)

  /** Per-community conductance cut/min(vol, 2m-vol) over a half-edge
    * (src, dst) list under the c(n) = n % 50 assignment — the
    * boundary-quality companion to [[modularity]]. */
  def conductance(halfEdges: DataFrame): DataFrame =
    graft.ops.Composite35.conductanceOn(halfEdges)

  /** Tukey-fence outlier audit per return flag over a
    * lineitem-shaped relation: picked quartiles, +-1.5 IQR fences in
    * exact cents, and per-side outlier counts. */
  def outlierFences(li: DataFrame): DataFrame =
    graft.ops.Composite35.outlierFencesOn(li)

  /** MAD anomaly days per `event_type` over an (event_type, ts)
    * stream: picked median and MAD of daily counts, anomaly when
    * |y - med| > 3*MAD. All exact integers. */
  def anomalyMad(events: DataFrame): DataFrame =
    graft.ops.Composite35.anomalyMadOn(events)

  /** One-step backtest of truncated Brown double exponential
    * smoothing (level + trend, alpha = 1/2, 8 lags per stage) of
    * daily counts per `event_type`: MAE, bias, and the lag-1 naive
    * baseline's MAE. Exact-integer residuals by construction
    * (forecast numerator 765*n1 - 2*n2 over /255^2 scaling). */
  def holtBacktest(events: DataFrame): DataFrame =
    graft.ops.Composite43.holtBacktestOn(events)

  /** Rescaled-range (R/S) curve of daily counts per `event_type`:
    * average R/S over full blocks of 8/16/32 days — the Hurst
    * long-memory diagnostic. Block statistics exact-integer via
    * Z_t = n*cum - t*S and n^2*Var = n*sum(y^2) - S^2. */
  def hurstRs(events: DataFrame): DataFrame =
    graft.ops.Composite44.hurstRsOn(events)

  /** Ljung-Box Q(7) whiteness test of daily counts per
    * `event_type`: rho_1, the pooled statistic, and the chi-sq(7)
    * 5% verdict. All co-moments exact BIGINTs. */
  def ljungBox(events: DataFrame): DataFrame =
    graft.ops.Composite45.ljungBoxOn(events)

  /** KPSS level-stationarity statistic (short-run variance form,
    * l = 0) of daily counts per `event_type` with the 5% verdict.
    * Partial sums exact via the same integral scaling as
    * [[hurstRs]]; squares summed in DECIMAL(38,0). */
  def kpssLevel(events: DataFrame): DataFrame =
    graft.ops.Composite46.kpssLevelOn(events)

  /** Jarque-Bera normality test per `o_orderpriority` over an
    * orders-shaped relation: skewness, excess kurtosis, JB and the
    * chi-sq(2) 5% verdict, from exact decimal power sums. */
  def jarqueBera(orders: DataFrame): DataFrame =
    graft.ops.Composite45.jarqueBeraOn(orders)

  /** Grubbs' extreme-studentized-deviate statistic per
    * `o_orderpriority`: G, the extreme side, and the suspect value
    * itself. Exact decimal sums and extremes. */
  def grubbsTest(orders: DataFrame): DataFrame =
    graft.ops.Composite47.grubbsOn(orders)

  /** Wilder True Range + 14-day ATR over the daily revenue candle
    * of an orders-shaped relation — exact-cents integers, CASE-
    * cascade max-of-three. */
  def trueRangeAtr(orders: DataFrame): DataFrame =
    graft.ops.Composite44.trueRangeAtrOn(orders)

  /** 20-day Donchian channel breakouts (prior-window extremes,
    * current day excluded) over the daily revenue candle of an
    * orders-shaped relation. */
  def donchianChannel(orders: DataFrame): DataFrame =
    graft.ops.Composite46.donchianChannelOn(orders)

  /** Per-generation observed-schema drift audit over a
    * documents-shaped relation: presence + storage class per column,
    * verdict absent/added/dropped/retyped/stable. One scan. */
  def schemaDrift(docs: DataFrame): DataFrame =
    graft.ops.Composite43.schemaDriftOn(docs)

  /** Mann–Whitney U with tie-corrected normal approximation over
    * (value, group-1 indicator) rows — ranks ride the distributed
    * prefix-sum grid, never a one-task global window. */
  def mannWhitney(df: DataFrame, value: Column, isGroup1: Column): DataFrame =
    graft.ops.Composite8.mannWhitneyOn(df, value, isGroup1)

  /** Two-sample Kolmogorov–Smirnov sup statistic and its location
    * over (value, group-1 indicator) rows; same grid as
    * [[mannWhitney]]. */
  def ksTest(df: DataFrame, value: Column, isGroup1: Column): DataFrame =
    graft.ops.Composite8.ksTestOn(df, value, isGroup1)

  /** Two-sample Anderson–Darling A² (tail-weighted EDF distance,
    * Pettitt 1976 / Scholz–Stephens 1987 at k = 2) with the 5%
    * asymptotic verdict; a third consumer of the KS/CvM grid. */
  def andersonDarling(df: DataFrame, value: Column, isGroup1: Column): DataFrame =
    graft.ops.Composite8.adTestOn(df, value, isGroup1)
}
