package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** graft.util.Hints — the size-gated broadcast discipline (VERDICT
  * r13 item 1). An explicit broadcast() hint hard-fails past Spark's
  * 8 GB broadcast limit instead of degrading, so every node/doc/edge-
  * sized build is hinted only under Hints.broadcastRowCap. Asserted
  * here on both sides of the gate: under the cap the loops keep their
  * broadcast plans (no perf change at bench scale); over it (forced
  * via the -Dgraft.broadcast.rowCap test override) the same ops plan
  * shuffle joins and produce identical results. */
class HintsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._
  import HintsSpec.withRowCap

  // two components: a 4-path and a 2-cycle; symmetric directed list
  private def edges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
    (1L, 4L), (4L, 1L), (10L, 11L), (11L, 10L)).toDF("src", "dst")

  /** Run body with AQE's size-based broadcast promotion off, so an
    * un-hinted join shows its honest shuffle shape (Round7Spec's
    * fallback discipline). */
  private def withoutAutoBroadcast[A](body: => A): A =
    TestSpark.globalConfLock.synchronized {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try body
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

  test("maybeBroadcast: under the cap the hint survives to a broadcast join") {
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val fact = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "m")
    withoutAutoBroadcast {
      val hinted = fact.join(graft.util.Hints.maybeBroadcast(2L)(dim), "k")
      hinted.count()
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    }
  }

  test("maybeBroadcast: over the cap there is NO hint — shuffle join, not a broadcast failure") {
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val fact = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "m")
    withoutAutoBroadcast {
      val unhinted = fact.join(
        graft.util.Hints.maybeBroadcast(graft.util.Hints.broadcastRowCap + 1)(dim), "k")
      unhinted.count()
      val plan = unhinted.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(1200))
    }
  }

  test("triangle core: over-cap path plans shuffle joins and agrees with the broadcast path") {
    val want = graft.ops.Composite10.triangleCountOn(edges).collect()
      .map(_.toSeq).toSeq
    withRowCap("0") {
      withoutAutoBroadcast {
        val df = graft.ops.Composite10.triangleCountOn(edges)
        val got = df.collect().map(_.toSeq).toSeq
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"over-cap core still broadcasts:\n${plan.take(1500)}")
        assert(got == want, s"shuffle path diverged: $got vs $want")
      }
    }
  }

  test("BFS loop: over-cap path plans shuffle joins and agrees with the broadcast path") {
    val want = graft.ops.GraphRounds
      .distanceHistogram(edges.withColumn("w", lit(1L)), n => n === 1L, k = 3)
      .collect().map(_.toSeq).toSeq
    withRowCap("0") {
      withoutAutoBroadcast {
        val df = graft.ops.GraphRounds
          .distanceHistogram(edges.withColumn("w", lit(1L)), n => n === 1L, k = 3)
        val got = df.collect().map(_.toSeq).toSeq
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"over-cap loop still broadcasts:\n${plan.take(1500)}")
        assert(got == want, s"shuffle path diverged: $got vs $want")
      }
    }
  }

  test("eigenvector norm gate: over-cap path drops the global window and agrees with the fused path") {
    // VERDICT r15 item 2: under the cap the L1 norm is a fused global
    // window; past it the norm re-plans as a 1-row aggregate broadcast
    // back over a per-round localCheckpoint. Same rounded grid either
    // way, and the over-cap plan must not funnel |nodes| through a
    // single-partition window.
    val want = graft.ops.Composite65.eigenvectorOn(edges).collect()
      .map(_.toSeq).toSeq
    withRowCap("0") {
      withoutAutoBroadcast {
        val df = graft.ops.Composite65.eigenvectorOn(edges)
        val got = df.collect().map(_.toSeq).toSeq
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Window"),
          s"over-cap norm still plans a global window:\n${plan.take(1500)}")
        assert(got == want, s"gated norm path diverged: $got vs $want")
      }
    }
  }

  test("gated loops keep their broadcast plans under the cap (corpus scale)") {
    // (graph_connected_components' loop joins run behind its final
    // localCheckpoint and don't appear in the returned df's plan —
    // its gate is exercised by the BFS-loop test above instead.)
    for (q <- Seq("graph_common_neighbors", "graph_triangle_count",
        "llm_minhash_containment")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.count()
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"$q lost its under-cap broadcast plan")
    }
  }
}

object HintsSpec {
  // Both override helpers (this one and withoutAutoBroadcast) mutate
  // JVM-global state (sys.props / the shared session's conf);
  // serialize the override windows behind TestSpark.globalConfLock so
  // the mutators never interleave with each other (ADVICE r14). NOTE
  // the lock serializes MUTATORS only: a suite that reads these
  // globals without taking the lock is still exposed during an
  // override window, so conf-sensitive plan assertions elsewhere must
  // take the same lock (ADVICE r15).
  def withRowCap[A](cap: String)(body: => A): A =
    TestSpark.globalConfLock.synchronized {
      val prev = sys.props.get("graft.broadcast.rowCap")
      sys.props("graft.broadcast.rowCap") = cap
      try body
      finally prev match {
        case Some(v) => sys.props("graft.broadcast.rowCap") = v
        case None    => sys.props -= "graft.broadcast.rowCap"
      }
    }
}
