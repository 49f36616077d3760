package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A traced interval: `parent` is the id of the span that caused it (-1 for
  * a pass), `pass` the pass it belongs to. Times are System.nanoTime.
  */
final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of `intervals`, each clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - covered(span.startNs, span.endNs, children.map(c => (c.startNs, c.endNs)))

  /** Self time of every span, by id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  def toJson(spans: Seq[Span], self: Map[Int, Long]): String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  /** Layer of a Spark job or SQL execution, from its call site
    * (`"<op> at <File>.scala:<line>"`): the module that launched it.
    */
  def layerOf(callSite: String): String = {
    val op = callSite.takeWhile(_ != ' ')
    val file = callSite.split(" at ").lastOption.map(_.takeWhile(_ != '.')).getOrElse("")
    (file, op) match {
      case ("EntityApiSource", "json")               => "source.infer"
      case ("EntityApiSource", o)                    => s"source.$o"
      case ("HttpBatchSink", _)                      => "sink.send"
      case ("EntityStateStore", "head")              => "state.checkpoint"
      case ("EntityStateStore", "parquet" | "save")  => "state.commit"
      case ("EntityStateStore", o)                   => s"state.$o"
      case ("ChangeFilter", o)                       => s"cdc.$o"
      case ("EntityEtlJob", o)                       => s"pipeline.$o"
      case (_, o)                                    => s"other.$o"
    }
  }
}

/** Outside-in record of Spark's work: SQL executions (start/end, call site)
  * and their QueryExecution's planning time, joined on the execution id;
  * jobs with their execution id; per-stage task metrics. Event times are
  * epoch ms, mapped onto the nanoTime line.
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {

  final class Exec(val id: Long, val callSite: String, val startMs: Long) {
    @volatile var endMs: Long = -1
  }
  final class Job(val id: Int, val exec: Long, val callSite: String, val startMs: Long) {
    @volatile var endMs: Long = -1
  }
  final case class StageMetrics(tasks: Long, cpuNs: Long, gcMs: Long, spillBytes: Long,
                                shuffleWriteBytes: Long, recordsRead: Long,
                                bytesWritten: Long, recordsWritten: Long)

  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageMetrics]()
  /** QueryExecution id of each SQL execution, from its end event. */
  val execQe = new ConcurrentHashMap[Long, Long]()
  /** Planning time (analysis, optimization, physical planning) per
    * QueryExecution id.
    */
  val planningMs = new ConcurrentHashMap[Long, Long]()

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNs(ms: Long): Long = ms * 1000000L + offsetNs

  def clear(): Unit = {
    execs.clear(); jobs.clear(); stageJob.clear(); stages.clear()
    execQe.clear(); planningMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, exec.map(_.toLong).getOrElse(-1L), callSite, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.put(e.stageInfo.stageId, StageMetrics(
      e.stageInfo.numTasks, m.executorCpuTime, m.jvmGCTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execs.put(s.executionId, new Exec(s.executionId, s.description, s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      org.apache.spark.sql.PerfbenchAccess.queryExecutionId(s).foreach(q => execQe.put(s.executionId, q))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs.put(qe.id, qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Analysis + optimization + planning time of a SQL execution. */
  def planningMsOf(execId: Long): Long =
    Option(execQe.get(execId)).flatMap(q => Option(planningMs.get(q))).map(_.longValue).getOrElse(0L)

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def execList: Seq[Exec] = execs.values.asScala.toSeq.sortBy(_.id)

  /** Task metrics of every stage a job owns, summed. */
  def jobMetrics(jobId: Int): StageMetrics =
    stageJob.asScala.collect { case (s, j) if j == jobId => Option(stages.get(s)) }.flatten
      .foldLeft(StageMetrics(0, 0, 0, 0, 0, 0, 0, 0)) { (a, b) =>
        StageMetrics(a.tasks + b.tasks, a.cpuNs + b.cpuNs, a.gcMs + b.gcMs, a.spillBytes + b.spillBytes,
          a.shuffleWriteBytes + b.shuffleWriteBytes, a.recordsRead + b.recordsRead,
          a.bytesWritten + b.bytesWritten, a.recordsWritten + b.recordsWritten)
      }
}
