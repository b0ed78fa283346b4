package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft
import graft.util.Tables

/** Direct timings of single layers, run after the traced passes. */
object Probes {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to resolve all ten corpus tables through `Tables.load`
    * (median of three). */
  def resolveTables(spark: SparkSession, corpus: String): Double =
    median((1 to 3).map(_ => timed(Tables.names.foreach(t => Tables.load(spark, corpus, t)))))

  /** Nanoseconds per pair of the fused vector kernels over a fixed set
    * of embedding pairs: the first 200 vectors against the first 2000
    * (median of three). The pair set is materialized first, so the
    * timed action is the kernel plus a scan of the cached pairs. */
  def kernels(spark: SparkSession, corpus: String): Json.Obj = {
    val e = Tables.load(spark, corpus, "embeddings").where(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.where(col("vec_id") < 200).select(col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b"))).cache()
    val n = pairs.count()
    def perPair(c: org.apache.spark.sql.Column): Double =
      median((1 to 3).map(_ => timed(pairs.select(sum(c)).collect()))) * 1e9 / n
    val o = new Json.Obj
    o("pairs") = n
    o("dot_ns_per_pair") = perPair(Graft.dot(col("a"), col("b")))
    o("cosine_ns_per_pair") = perPair(Graft.cosine(col("a"), col("b")))
    pairs.unpersist(blocking = true)
    o
  }

  /** JIT and GC totals, peak heap, and the process's peak resident set. */
  def jvm(): Json.Obj = {
    val o = new Json.Obj
    val jit = ManagementFactory.getCompilationMXBean
    o("jit_s") = if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime / 1000.0 else 0.0
    o("gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
    o("heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    o("vm_hwm_mb") = try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
    o
  }
}
