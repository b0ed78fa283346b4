package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM parquet materialization of an expensive shared
  * intermediate (the [[GraphBfs]] materialized-view discipline as a
  * reusable helper): the first caller builds the table and writes it
  * under the per-run /tmp path ([[Scans.tmp]] — per-applicationId,
  * deleted on JVM exit); every later caller reads the parquet back.
  *
  * Disk, not memory, on purpose: persist/localCheckpoint blocks do
  * not survive the between-query block cleanup a long-running driver
  * performs, while the parquet files do — and at 100 TB a shared
  * intermediate this expensive is a materialized view written once
  * to storage and fanned out to every consumer, not re-derived per
  * query. Builders must be DETERMINISTIC (consumers of the memo and
  * of a fresh build must be cell-identical — every current builder
  * is exact-integer or fixed-rounding by construction).
  *
  * Each key builds once, with no lock held during the build:
  * concurrent first callers of the SAME table (test suites share one
  * JVM) wait on the winning caller's future rather than racing two
  * writes to one path, while DIFFERENT tables build concurrently. A
  * failed build surfaces its original exception to the builder and to
  * every waiter, and the next caller retries. Keys canonicalize the
  * corpus dir, so sf0.01 Verify and sf0.1 Bench never share a table.
  */
object DiskMemo {

  // Future-per-key registry (r19, VERDICT r18 item 3: "build outside
  // the lock, publish under it"): putIfAbsent publishes a cheap
  // CompletableFuture and the WINNING caller runs the Spark build
  // entirely OUTSIDE any map operation, completing the future when
  // the write lands. Concurrent first callers of the SAME table block
  // on its future (never race two writes to one path) while DIFFERENT
  // tables build concurrently — the r18 global lock made every
  // concurrent first-build queue behind whichever Spark write
  // happened to hold it (test suites share one JVM; a long edge-view
  // build blocked an unrelated shingle-view build).
  // NOT computeIfAbsent(build): layered builders nest table() calls
  // (linkpred → half-edges → weighted view), and a nested insert from
  // inside a mapping function throws ConcurrentHashMap's
  // IllegalStateException("Recursive update") whenever the two keys
  // share a bin — caught by Round58Spec's reset/rebuild test.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Forget every memoized table so the next caller rebuilds (the
    * parquet paths are overwrite-mode, so no cleanup is needed).
    * Bench uses this to time a TRUE materialized-view build as its
    * own entry (VERDICT r16 item 2) instead of letting the one-time
    * build hide inside an untimed warm pass.
    *
    * The resets assume SEQUENTIAL use: a reset racing a build of the
    * same table may let that in-flight build publish after the reset,
    * and a rebuild overwrites a path a concurrent reader may be
    * scanning. Call them between queries, never alongside them. */
  private[graft] def reset(): Unit = memo.clear()

  /** Forget ONE memoized table (by tag, any corpus dir) so the next
    * caller rebuilds it. Bench's per-memo timed rows use this instead
    * of the full [[reset]]: clearing everything would charge one
    * memo's timed rebuild with every OTHER table's rebuild too, so
    * each row would measure the union instead of its own build. */
  private[graft] def reset(tag: String): Unit =
    memo.keySet.removeIf(_.endsWith("#" + tag))

  /** Forget every memoized table whose tag starts with `prefix` — a
    * view family whose tags carry parameters (e.g. BFS levels). */
  private[graft] def resetPrefix(prefix: String): Unit =
    memo.keySet.removeIf(k => k.substring(k.lastIndexOf('#') + 1)
      .startsWith(prefix))

  def table(s: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val key = new java.io.File(dir).getCanonicalPath + "#" + tag
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val prior = memo.putIfAbsent(key, fresh)
    val fut = if (prior != null) prior
    else {
      // This caller won the key: build + write with NO map lock held
      // (nested table() calls from layered builders are plain
      // re-entries here, not recursive bin updates). A failed build
      // unpublishes the key so a later caller can retry, and the
      // exception propagates to every waiter of THIS attempt.
      try {
        val p = Scans.tmp(s, dir, tag) + "/t"
        build.write.mode("overwrite").parquet(p)
        fresh.complete(p)
      } catch {
        case t: Throwable =>
          memo.remove(key, fresh); fresh.completeExceptionally(t); throw t
      }
      fresh
    }
    // join() wraps a failed build in a CompletionException; waiters
    // rethrow the builder's own exception, as the builder does.
    val path = try fut.join() catch {
      case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause
    }
    s.read.parquet(path)
  }
}
