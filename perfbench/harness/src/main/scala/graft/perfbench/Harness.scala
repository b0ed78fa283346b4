package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.util.Sessions

/** Closed-loop pipeline benchmark harness: one JVM, one client, one
  * workload. Rows run back to back, each through the engine's public
  * builders; the timed action hashes every output column, so no output
  * column can be pruned away.
  *
  * Modes (first argument):
  *  - `run`    setup, then untraced passes until `--seconds` elapse;
  *  - `trace`  setup, then alternating untraced and traced passes, plus
  *             the table-resolution and kernel probes;
  *  - `record` one pass that writes every row and fingerprints the
  *             read-back output, plus `oracle_sql.json` for compare.py.
  *
  * Results go to `--out` as one JSON document; `perfbench/run.py`
  * turns them into metrics.
  */
object Harness {

  final case class Phase(name: String, startMs: Long, endMs: Long, secs: Double)

  final case class RowRec(pass: Int, name: String, startMs: Long, endMs: Long,
      wallS: Double, phases: Seq[Phase], fp: String, error: String,
      plan: Map[String, Double], planNodes: Int, pinnedBytes: Long)

  /** Shared-view builds timed as rows of their own: each resets its own
    * view first, so the row measures a real rebuild. */
  val memoRows: Map[String, (SparkSession, String) => DataFrame] = Map(
    "memo_order_psets" -> ((s, d) => {
      graft.ops.DiskMemo.reset("order_psets")
      graft.ops.Composite4.sharedOrderPsets(s, d)
    }),
    "memo_copurchase_weighted" -> ((s, d) => {
      graft.ops.DiskMemo.reset("copurchase_weighted")
      graft.ops.Composite33.coPurchaseWeightedHalf(s, d)
    }),
    "memo_copurchase_half" -> ((s, d) => {
      graft.ops.DiskMemo.reset("copurchase_half")
      graft.ops.Composite4.coPurchaseHalfEdges(s, d)
    }),
    "memo_grams3" -> ((s, d) => {
      graft.ops.DiskMemo.reset("grams3")
      graft.ops.LlmOps19.sharedGrams(s, d)
    }),
    "memo_shingle_postings" -> ((s, d) => {
      graft.ops.DiskMemo.reset("shingle_postings")
      graft.ops.LlmOps19.sharedPostings(s, d)
    }),
    "memo_bigramsets" -> ((s, d) => {
      graft.ops.DiskMemo.reset("bigramsets")
      graft.ops.LlmOps2.sharedBigramSets(s, d)
    }),
    "memo_tri_adjacency" -> ((s, d) => {
      graft.ops.TriCore.resetAll()
      graft.ops.TriCore.sharedAdj(s, d)
    }),
    "memo_bfslevels_3_3" -> ((s, d) => {
      graft.ops.GraphBfs.reset()
      graft.ops.GraphBfs.sharedLevels(s, d, seeds = 3, k = 3)._1
    }),
    "memo_linkpred_cands" -> ((s, d) => {
      graft.ops.DiskMemo.reset("linkpred_cands")
      graft.ops.Composite36.sharedLinkpredCandidates(s, d)
    }))

  private lazy val builders = SparkEntry.queries ++ memoRows

  private def nowMs(): Long = System.currentTimeMillis()

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-insensitive multiset hash over every output column: row
    * count, sum of the low 32 bits and xor of xxhash64 per row. Map
    * columns are hashed as their key-sorted entry arrays. */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      sum(col("h").bitwiseAND(lit(0xffffffffL))).as("s"),
      bit_xor(col("h")).as("x"))
  }

  def fingerprintOf(row: org.apache.spark.sql.Row): String = {
    val s = if (row.isNullAt(1)) 0L else row.getLong(1)
    val x = if (row.isNullAt(2)) 0L else row.getLong(2)
    f"${row.getLong(0)}%d:$s%x:$x%x"
  }

  /** Runs rows through the engine and records one RowRec per row. With
    * `write`, the action writes the result as parquet and the row's
    * fingerprint is taken from the files read back. */
  final class Runner(spark: SparkSession, corpus: String, write: Boolean,
      outDir: String, tracer: Option[Tracer], progress: Boolean) {

    private def phase(name: String)(body: => Unit): Phase = {
      val s = nowMs(); val t0 = System.nanoTime()
      body
      Phase(name, s, nowMs(), secsSince(t0))
    }

    def row(pass: Int, name: String): RowRec = {
      val phases = Vector.newBuilder[Phase]
      var fp = ""; var err = ""
      var plan = Map.empty[String, Double]; var nodes = 0
      val path = s"$outDir/$name"
      val startMs = nowMs(); val t0 = System.nanoTime()
      try {
        var df: DataFrame = null
        phases += phase("build") { df = builders(name)(spark, corpus) }
        if (write) {
          phases += phase("plan")(df.queryExecution.executedPlan)
          phases += phase("write")(df.write.mode("overwrite").parquet(path))
          plan = trackerSecs(df.queryExecution.tracker)
          nodes = df.queryExecution.optimizedPlan.collect { case n => n }.size
        } else {
          var hashed: DataFrame = null
          phases += phase("plan") {
            hashed = fingerprintFrame(df)
            hashed.queryExecution.executedPlan
          }
          var r: org.apache.spark.sql.Row = null
          phases += phase("exec") { r = hashed.collect().head }
          fp = fingerprintOf(r)
          plan = addSecs(trackerSecs(df.queryExecution.tracker),
            trackerSecs(hashed.queryExecution.tracker))
          nodes = hashed.queryExecution.optimizedPlan.collect { case n => n }.size
        }
      } catch {
        case t: Throwable =>
          err = (t.getClass.getName + ": " + String.valueOf(t.getMessage))
            .linesIterator.take(3).mkString(" | ").take(400)
      }
      val wall = secsSince(t0); val endMs = nowMs()
      val pinned = tracer.map(_ => storageBytes()).getOrElse(0L)
      // Untimed: read the written result back and fingerprint it.
      if (write && err.isEmpty) {
        try {
          fp = fingerprintOf(fingerprintFrame(spark.read.parquet(path)).collect().head)
        } catch {
          case t: Throwable => err = "read-back failed: " + t.getClass.getName
        }
      }
      if (progress) System.err.println(f"[harness] pass $pass%d $name%s $wall%.3f s $err%s")
      RowRec(pass, name, startMs, endMs, wall, phases.result(), fp, err, plan,
        nodes, pinned)
    }

    def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  }

  private def trackerSecs(t: org.apache.spark.sql.catalyst.QueryPlanningTracker)
      : Map[String, Double] = {
    val ph = t.phases
    Seq("analysis", "optimization", "planning").map { k =>
      k -> ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    }.toMap
  }

  private def addSecs(a: Map[String, Double], b: Map[String, Double]) =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  private def parse(args: Array[String]): Map[String, String] =
    args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val o = parse(args)
    val corpus = new File(o("corpus")).getCanonicalPath
    val rows = scala.io.Source.fromFile(o("rows")).getLines().map(_.trim)
      .filter(_.nonEmpty).toVector
    val seconds = o.getOrElse("seconds", "10").toDouble
    // Shared views are reset at the start of every pass with "1", never
    // with "0".
    val reset = o.getOrElse("reset", "0") == "1"
    val outDir = o("work") + "/out"
    val cpus = o.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val unknown = rows.filterNot(r => builders.contains(r))
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")

    val sessionT0 = System.nanoTime()
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secsSince(sessionT0)
    val tracer = if (mode == "trace") Some(new Tracer(spark, corpus)) else None
    val runner = new Runner(spark, corpus, mode == "record",
      outDir, tracer, o.getOrElse("progress", "0") == "1")
    val out = new Json.Obj

    def resetViews(): Unit = {
      graft.ops.DiskMemo.reset()
      graft.ops.GraphBfs.reset()
      graft.ops.TriCore.resetAll()
    }
    def pass(i: Int): (Double, Seq[RowRec]) = {
      if (reset) resetViews()
      val t0 = System.nanoTime()
      val recs = rows.map(r => runner.row(i, r))
      (secsSince(t0), recs)
    }

    out("session_s") = sessionS
    out("cpus") = cpus
    if (mode == "record") {
      val recs = rows.map(r => runner.row(0, r))
      out("rows") = recs.map(rowJson)
      Files.writeString(Paths.get(outDir, "oracle_sql.json"),
        Json.render(SparkEntry.oracleSql.map { case (k, v) => k -> (v: Any) }))
    } else {
      val warmT0 = System.nanoTime()
      val (_, warm) = pass(-1)
      out("warm_s") = secsSince(warmT0)
      out("warm_done_ms") = nowMs()
      out("warm_rows") = warm.map(rowJson)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val passes = Vector.newBuilder[Json.Obj]
      // A trace run needs one untraced and one traced pass to compare.
      val minPasses = math.max(o.getOrElse("min-passes", "1").toInt,
        if (tracer.isDefined) 2 else 1)
      var i = 0
      while (i < minPasses || System.nanoTime() < deadline) {
        val traced = tracer.isDefined && i % 2 == 1
        if (traced) tracer.get.start()
        val (secs, recs) = pass(i)
        val p = new Json.Obj
        p("index") = i; p("traced") = traced; p("pass_s") = secs
        p("rows") = recs.map(rowJson)
        if (traced) {
          p("storage_end_bytes") = runner.storageBytes()
          p("trace") = tracer.get.stop()
        }
        passes += p
        i += 1
      }
      out("passes") = passes.result()
      tracer.foreach { _ =>
        out("resolve_s") = Probes.resolveTables(spark, corpus)
        out("kernels") = Probes.kernels(spark, corpus)
      }
    }
    out("jvm") = Probes.jvm()
    spark.stop()
    Files.writeString(Paths.get(o("out")), Json.render(out))
  }

  private def rowJson(r: RowRec): Json.Obj = {
    val j = new Json.Obj
    j("name") = r.name; j("start_ms") = r.startMs; j("end_ms") = r.endMs
    j("wall_s") = r.wallS; j("fp") = r.fp; j("error") = r.error
    j("phases") = r.phases.map { p =>
      val q = new Json.Obj
      q("name") = p.name; q("start_ms") = p.startMs; q("end_ms") = p.endMs
      q("secs") = p.secs; q
    }
    j("plan") = r.plan.map { case (k, v) => k -> (v: Any) }
    j("plan_nodes") = r.planNodes
    j("pinned_bytes") = r.pinnedBytes
    j
  }
}
