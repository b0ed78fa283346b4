package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Observes a traced pass from outside the engine: a SparkListener
  * records every job with its call-site name (the name of its result
  * stage) and the summed metrics of its tasks, and the corpus tables
  * each SQL execution scans. The harness attributes jobs to rows and
  * phases by start time, so the engine needs no instrumentation. */
final class Tracer(spark: SparkSession, corpus: String) {

  private final class JobRec(val id: Int, val name: String, val submitMs: Long,
      val execId: Option[Long]) {
    var endMs = -1L
    var stages = 0
    var tasks = 0L; var failedTasks = 0L
    var busyMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    var spillDisk = 0L; var spillMem = 0L; var peakMem = 0L
    var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val scans = mutable.ArrayBuffer.empty[(Long, Set[String])]
  // Long call site of each SQL execution. A shared view is written from
  // an async future whose jobs carry a JDK call site, so they are tied to
  // the view code through their execution instead.
  private val execSites = mutable.HashMap.empty[Long, String]
  private val tablePath =
    (java.util.regex.Pattern.quote(corpus) + "/(\\w+)\\.parquet").r

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val result = e.stageInfos.maxBy(_.stageId)
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val j = new JobRec(e.jobId, result.name, e.time, execId)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = e.stageInfo
      stageSubmitMs(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(s.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val i = e.taskInfo
        j.tasks += 1
        if (!i.successful) j.failedTasks += 1
        j.busyMs += i.duration
        stageSubmitMs.get(e.stageId).foreach(s => j.waitMs += math.max(0L, i.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spillDisk += m.diskBytesSpilled
          j.spillMem += m.memoryBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
          j.inBytes += m.inputMetrics.bytesRead
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val tables = tablePath.findAllMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).toSet
        scans += ((s.time, tables))
        execSites(s.executionId) = s.details
      }
      case _ =>
    }
  }

  def start(): Unit = {
    synchronized {
      jobs.clear(); stageJob.clear(); stageSubmitMs.clear(); scans.clear(); execSites.clear()
    }
    spark.sparkContext.addSparkListener(listener)
  }

  /** Detach and return everything seen since [[start]]. */
  def stop(): Json.Obj = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val out = new Json.Obj
    synchronized {
      out("jobs") = jobs.values.toSeq.map { j =>
        val o = new Json.Obj
        o("id") = j.id; o("name") = j.name; o("start_ms") = j.submitMs
        o("end_ms") = j.endMs; o("stages") = j.stages
        o("tasks") = j.tasks; o("failed_tasks") = j.failedTasks
        o("busy_ms") = j.busyMs; o("cpu_ns") = j.cpuNs; o("wait_ms") = j.waitMs
        o("shuffle_read") = j.shuffleRead; o("shuffle_write") = j.shuffleWrite
        o("spill_disk") = j.spillDisk; o("spill_mem") = j.spillMem
        o("peak_mem") = j.peakMem; o("in_bytes") = j.inBytes
        o("out_bytes") = j.outBytes; o("out_records") = j.outRecords
        o("view") = j.execId.flatMap(execSites.get).exists(site =>
          Seq("DiskMemo.scala", "GraphBfs.scala", "TriCore.scala").exists(site.contains))
        o
      }
      out("scans") = scans.toSeq.map { case (t, ts) =>
        val o = new Json.Obj; o("ms") = t; o("tables") = ts.toSeq.sorted; o
      }
    }
    out
  }
}
