package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * job, stage and task counters of every op, gathered from outside the
  * library: a `SparkListener`, a `QueryExecutionListener` and a job
  * group per op. Spans stay in memory until [[report]].
  *
  * Times are epoch milliseconds (fractional for spans, whole for the
  * scheduler's own job timestamps), so spans and jobs share one clock.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var currentOp = ""

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()

  private def countersOf(group: String): Counters =
    counters.computeIfAbsent(group, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(groupOf(e.properties), e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = groupOf(e.properties)
      val si = e.stageInfo
      stageGroup.put(si.stageId, g)
      stageSubmitMs.put(si.stageId, si.submissionTime.getOrElse(System.currentTimeMillis()))
      countersOf(g).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(Option(stageGroup.get(e.stageId)).getOrElse(""))
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      Option(stageSubmitMs.get(e.stageId)).foreach { s =>
        c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.readBytes += m.inputMetrics.bytesRead
        c.readRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).min
      val files = try numFiles(qe.executedPlan) catch { case _: Throwable => 0L }
      queries.add(QueryRec(start, ms("analysis"), ms("optimization"), ms("planning"), files))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.sql.GraftBridge.waitListeners(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Root span of one op; its jobs carry `opId` as their job group. */
  def op[T](opId: String, label: String)(body: => T): T = {
    currentOp = opId
    spark.sparkContext.setJobGroup(opId, label, interruptOnCancel = false)
    try span("op", label)(body)
    finally spark.sparkContext.clearJobGroup()
  }

  /** A child span of whatever span is open: one call into a layer. */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val s = nowMs
    open = id :: open
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, currentOp, name, label, s, nowMs)
    }
  }

  /** Per-op records, per-kind self times and all spans (jobs included
    * as leaf spans). Call after [[stop]].
    */
  def report(): Report = {
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).collect {
      case (id, j) if j.endMs >= 0 => JobSpan(id, j.group, j.startMs.toDouble, j.endMs.toDouble)
    }
    val byOp = spans.groupBy(_.op)
    val qs = queries.asScala.toSeq
    val kindSelf = mutable.LinkedHashMap.empty[String, Double]
    val jobParent = mutable.Map.empty[Int, Int]
    val ops = spans.filter(_.name == "op").sortBy(_.startMs).map { root =>
      val mine = byOp(root.op).toSeq
      val myJobs = jobSpans.filter(_.group == root.op)
      // each job hangs under the innermost span open when it started
      myJobs.foreach { j =>
        val holder = mine.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => s.endMs - s.startMs).headOption.getOrElse(root)
        jobParent(j.id) = holder.id
      }
      mine.foreach { s =>
        val kids = mine.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)) ++
          myJobs.filter(j => jobParent(j.id) == s.id).map(j => (j.startMs, j.endMs))
        val self = (s.endMs - s.startMs) - covered(s.startMs, s.endMs, kids)
        kindSelf(s.name) = kindSelf.getOrElse(s.name, 0.0) + self / 1000.0
      }
      kindSelf("job") = kindSelf.getOrElse("job", 0.0) +
        myJobs.map(j => j.endMs - j.startMs).sum / 1000.0
      val c = Option(counters.get(root.op)).getOrElse(new Counters)
      val myQs = qs.filter(q => q.startMs >= root.startMs - 1 && q.startMs <= root.endMs + 1)
      OpRecord(root.op, root.label, (root.endMs - root.startMs) / 1000.0,
        mine.filter(_.parent == root.id).map(s => s.name -> (s.endMs - s.startMs) / 1000.0),
        myJobs.size, c,
        myQs.map(_.analysisMs).sum / 1000.0, myQs.map(_.optimizationMs).sum / 1000.0,
        myQs.map(_.planningMs).sum / 1000.0, myQs.map(_.files).sum,
        ((root.endMs - root.startMs) -
          covered(root.startMs, root.endMs, myJobs.map(j => (j.startMs, j.endMs)))) / 1000.0)
    }.toSeq
    val spanRecs = spans.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "label" -> s.label, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
      jobSpans.map(j => Map(
        "id" -> s"job-${j.id}", "parent" -> jobParent.getOrElse(j.id, -1), "op" -> j.group,
        "name" -> "job", "label" -> "", "start_ms" -> j.startMs, "end_ms" -> j.endMs))
    Report(ops, kindSelf.toMap, spanRecs.toSeq)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: String, name: String, label: String,
      startMs: Double, endMs: Double)
  final case class JobRec(group: String, startMs: Long, endMs: Long)
  final case class JobSpan(id: Int, group: String, startMs: Double, endMs: Double)
  final case class QueryRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long)

  /** Scheduler and executor counters of one job group. Written only on
    * the listener-bus thread, read after it drains.
    */
  final class Counters {
    var stages, tasks, failedTasks = 0L
    var schedDelayMs, runMs, cpuNs, gcMs, deserMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var readBytes, readRecords, outBytes, outRecords = 0L
  }

  final case class OpRecord(op: String, label: String, seconds: Double,
      children: Seq[(String, Double)], jobs: Int, c: Counters,
      analysisS: Double, optimizationS: Double, planningS: Double,
      filesWritten: Long, gapS: Double) {
    def toMap: Map[String, Any] = Map(
      "op" -> op, "label" -> label, "seconds" -> seconds,
      "children" -> children.map { case (n, s) => Map("name" -> n, "seconds" -> s) },
      "jobs" -> jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "sched_delay_s" -> c.schedDelayMs / 1000.0,
      "run_s" -> c.runMs / 1000.0, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1000.0,
      "deser_s" -> c.deserMs / 1000.0, "shuffle_read_bytes" -> c.shuffleRead,
      "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
      "read_bytes" -> c.readBytes, "read_records" -> c.readRecords,
      "output_bytes" -> c.outBytes, "output_records" -> c.outRecords,
      "files_written" -> filesWritten, "analysis_s" -> analysisS,
      "optimization_s" -> optimizationS, "planning_s" -> planningS,
      "driver_gap_s" -> gapS)
  }

  final case class Report(ops: Seq[OpRecord], selfSeconds: Map[String, Double],
      spans: Seq[Map[String, Any]])

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** Length of the part of [s, e] covered by the union of `iv`. */
  def covered(s: Double, e: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = s
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }

  /** Files written by the plan's write commands (`numFiles`). */
  def numFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    own + kids.map(numFiles).sum
  }
}
