package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are nanoseconds on the `System.nanoTime`
  * clock; listener events (epoch milliseconds) are mapped onto it.
  */
final case class Span(id: Int, parent: Int, name: String, op: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  /** epoch-ms → nanoTime offset, for listener timestamps */
  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def add(parent: Int, name: String, op: String, start: Long, end: Long): Int = {
    next += 1
    spans += Span(next, parent, name, op, start, end)
    next
  }
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Runs `body` as a span; the body gets the span's id to give its
    * children as their parent.
    */
  def span[T](parent: Int, name: String, op: String)(body: Int => T): T = {
    next += 1
    val id = next
    val t0 = System.nanoTime()
    try body(id) finally spans += Span(id, parent, name, op, t0, System.nanoTime())
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover (children may overlap each other).
    */
  def selfNsByLayer(keep: Span => Boolean): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(keep).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        s.dur - covered
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Task metrics summed over the tasks of one stage. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var peakExec = 0L; var inputBytes = 0L
  var submitMs = 0L; var doneMs = 0L
}

final class JobRec(val id: Int, val op: String, val startMs: Long, val stages: Seq[Int]) {
  var endMs: Long = startMs
}

/** Listener-side view of the run: jobs by op id (the Spark job group),
  * stages with their summed task metrics, and every finished
  * QueryExecution, for the scan's SQL metrics.
  */
final class StageListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val qes = mutable.ArrayBuffer.empty[QueryExecution]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += new JobRec(e.jobId, group, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      // the UI's definition: time a task spent neither running nor
      // (de)serializing nor shipping its result
      s.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Colf (and any DSv2) scans of an executed plan, AQE stages included. */
  def scans(plan: SparkPlan): Seq[BatchScanExec] =
    collectWithSubqueries(plan) { case b: BatchScanExec => b }

  def metric(b: BatchScanExec, name: String): Long =
    b.metrics.get(name).map(_.value).getOrElse(0L)

  def isColf(b: BatchScanExec): Boolean = b.scan.getClass.getName.contains("colf.")
}
