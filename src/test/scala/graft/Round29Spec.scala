package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-case guards for the round-21 rows (SURVEY §2.47):
  * hop-bounded BFS, two-regressor OLS, and the MinHash calibration
  * audit. Each drives the factored production path on inputs whose
  * expected output is derivable by hand.
  */
class Round29Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- graph_shortest_path -----------------------------------------

  test("shortestPathOn: path graph respects the hop bound and buckets unreached at -1") {
    // Chain 100-1-2-3-4-5, seed = node % 100 == 0 (node 100 only).
    // With k=3 rounds: d(100)=0, d(1)=1, d(2)=2, d(3)=3; nodes 4 and
    // 5 are beyond the bound -> -1.
    val half = Seq((100L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val edges = half.union(half.select(col("dst"), col("src")))
    val got = graft.ops.GraphRounds
      .distanceHistogram(edges.withColumn("w", lit(1L)), n => n % 100 === 0, k = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((-1L, 2L), (0L, 1L), (1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("shortestPathOn: no seeds -> every node unreached") {
    val half = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val edges = half.union(half.select(col("dst"), col("src")))
    val got = graft.ops.GraphRounds
      .distanceHistogram(edges.withColumn("w", lit(1L)), _ => lit(false), k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((-1L, 3L)))
  }

  // ---- agg_ols_multi -------------------------------------------------

  test("olsMultiOn: exact linear data recovers betas, intercept, r2 = 1") {
    // y = 5 + 2*q - 30*d exactly (all values 2-dp => the decimal
    // casts are lossless); an exact fit must surface beta_qty = 2,
    // beta_disc = -30, intercept = 5, r2 = 1 after 6-dp rounding.
    val rows = (1 to 6).map { i =>
      val q = i.toDouble
      val d = 0.01 * (i % 3)
      ("X", q, d, 5.0 + 2.0 * q - 30.0 * d)
    }
    val li = rows.toDF("l_returnflag", "l_quantity", "l_discount",
      "l_extendedprice")
    val got = graft.ops.Composite31.olsMultiOn(li)
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("X", 6L, 2.0, -30.0, 5.0, 1.0)))
  }

  // ---- dq_k_anonymity ------------------------------------------------

  test("kAnonymityOn: QI group sizes histogram, negative balances band at -1") {
    // Groups: (A,1,band 0) x2; (A,1,band -1) x1; (B,1,0) x1; (B,2,0) x2
    // -> two singleton groups (2 rows at k<2 risk), two pair groups.
    val cust = Seq(
      ("A", 1, 500.00), ("A", 1, 999.99), ("A", 1, -1.00),
      ("B", 1, 500.00), ("B", 2, 500.00), ("B", 2, 700.00))
      .toDF("c_mktsegment", "c_nationkey", "c_acctbal")
    val got = graft.ops.Composite31.kAnonymityOn(cust)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 2L, 4L)))
  }

  // ---- agg_weighted_median ---------------------------------------------

  test("weightedMedianOn: cumulative weight picks the value at the half-total; ties take the lower value") {
    // Flag X: weights 1,1,10 over prices 1,2,3 -> total 12, first row
    // with 2*cumw >= 12 is price 3. Flag Y: weights 1,1 -> the exact
    // half lands ON price 1 (2*1 >= 2), the lower weighted median.
    val li = Seq(
      ("X", 1.0, 1L, 1, 1.0), ("X", 2.0, 2L, 1, 1.0), ("X", 3.0, 3L, 1, 10.0),
      ("Y", 1.0, 4L, 1, 1.0), ("Y", 2.0, 5L, 1, 1.0))
      .toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_quantity")
    val got = graft.ops.Composite32.weightedMedianOn(li)
      .as[(String, Double, Long)].collect().toSeq
    assert(got == Seq(("X", 3.0, 12L), ("Y", 1.0, 2L)))
  }

  // ---- evt_poisson_rate_shift --------------------------------------------

  test("poissonRateShiftOn: midpoint-day split counts, z and ratio; empty second half -> NULL ratio") {
    // Span day1..day3, midpoint = day2 (inclusive left). Type A: 3
    // events <= day2, 1 after -> z = (3-1)/2 = 1, ratio = 3. Type B:
    // all 4 in the first half -> c2 = 0, ratio NULL, z = sqrt(4) = 2.
    val events = Seq(
      ("A", "2024-01-01 10:00:00"), ("A", "2024-01-01 11:00:00"),
      ("A", "2024-01-02 10:00:00"), ("A", "2024-01-03 10:00:00"),
      ("B", "2024-01-01 10:00:00"), ("B", "2024-01-01 12:00:00"),
      ("B", "2024-01-02 09:00:00"), ("B", "2024-01-02 23:00:00"))
      .toDF("event_type", "ts_s")
      .select(col("event_type"), to_timestamp(col("ts_s")).as("ts"))
    val got = graft.ops.Composite32.poissonRateShiftOn(events)
      .as[(String, Long, Long, Double, Option[Double])].collect().toSeq
    assert(got == Seq(("A", 3L, 1L, 1.0, Some(3.0)), ("B", 4L, 0L, 2.0, None)))
  }

  // ---- graph_ego_size_2hop -------------------------------------------------

  test("egoSize2HopOn: chain graph bounds the ego at two hops") {
    // 100-1-2-3 chain: ego1(100) = {1}, ego2(100) = {1,2} (node 3 is
    // three hops out and must not count).
    val half = Seq((100L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val edges = half.union(half.select(col("dst"), col("src")))
    val got = graft.ops.Composite32.egoSize2HopOn(edges)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 1L, 2L)))
  }

  test("egoSize2HopOn: a self-loop on the seed never counts the seed (ego1 <= ego2 holds)") {
    // ADVICE r11: a self-loop (100,100) previously leaked the seed
    // into ego1 (built before the n =!= seed filter) while ego2
    // excluded it, yielding ego2 < ego1 on the public facade.
    val half = Seq((100L, 100L), (100L, 1L), (1L, 2L)).toDF("src", "dst")
    val edges = half.union(half.select(col("dst"), col("src")))
    val got = graft.ops.Composite32.egoSize2HopOn(edges)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 1L, 2L)))
  }

  // ---- llm_minhash_calibration ----------------------------------------

  /** Replica of LlmOps4.hashKeep's predicate for picking planted ids. */
  private def keeps(id: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"graft$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    hex.substring(0, 2) <= "3f"
  }

  test("minhashCalibration: identical pair lands at (8 matches, decile 10); sampled-out twin is excluded") {
    // Four docs that PASS the 25% hash sample, same lang and length
    // band: two identical (J=1 -> 8/8 lane matches, decile 10) and
    // two unrelated (decile 0). A fifth doc with the SAME text as the
    // identical pair but an id that FAILS the sample must not inflate
    // the (8,10) cell.
    val in = (1L to 500L).filter(keeps).take(4)
    val out = (1L to 500L).filterNot(keeps).head
    assert(in.size == 4)
    val Seq(a, b, c, d) = in
    val docs = Seq(
      (a, "en", 50L, "w1 w2 w3 w4 w5 w6"),
      (b, "en", 50L, "w1 w2 w3 w4 w5 w6"),
      (c, "en", 50L, "p1 p2 p3 p4 p5 p6"),
      (d, "en", 50L, "z1 z2 z3 z4 z5 z6"),
      (out, "en", 50L, "w1 w2 w3 w4 w5 w6"))
      .toDF("doc_id", "lang", "n_chars", "text")
    val got = graft.ops.Composite31.minhashCalibration(docs)
      .as[(Long, Long, Long)].collect().toSeq
    // 4 sampled docs in one block -> C(4,2) = 6 pairs total.
    assert(got.map(_._3).sum == 6L, s"pair budget: $got")
    assert(got.filter { case (m, dec, _) => m == 8L && dec == 10L }
      .map(_._3).sum == 1L, s"identical-pair cell: $got")
    // The other 5 pairs share no shingles -> decile 0.
    assert(got.filter(_._2 == 0L).map(_._3).sum == 5L, s"negative class: $got")
  }
}
