package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Times are epoch milliseconds. */
final class Span(val id: Int, val kind: String, val name: String,
                 val parent: Int, val start: Double, val runId: String) {
  @volatile var end: Double = Double.NaN
  def dur: Double = end - start
}

/** Task-metric sums of one completed stage. */
final class StageAcc {
  val runMs = ArrayBuffer[Long]()
  var cpuNs, gcMs, fetchMs, shuffleR, shuffleW, spill = 0L
  var inRows, inBytes, outRows, outBytes = 0L
  var numTasks = 0
  var reduce = false
}

/** Per-call readouts that carry no job group, attributed by draining
  * the listener bus after each call. */
final class CallExtras {
  var analysisMs, optimizationMs, planningMs = 0L
  var sidecarReadB = 0L
  var pinBlocks, pinB = 0L
  var ccRounds, ccEscalations = 0
}

/** Span recorder plus the Spark and query-execution listeners of the
  * traced run. Jobs are tied to spans through their job group
  * (`GroupPrefix` + span id), stages to jobs through the job-start
  * event, tasks to stages by stage id — the attribution scheme of
  * graft.BenchMetrics.MetricsListener. */
final class Tracer(val runId: String, nowMs: () => Double)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spanBuf = ArrayBuffer[Span]()
  private var nextId = 0

  def open(kind: String, name: String, parent: Int): Span =
    record(kind, name, parent, nowMs(), Double.NaN)
  def close(s: Span): Unit = s.end = nowMs()
  def record(kind: String, name: String, parent: Int, start: Double, end: Double): Span =
    synchronized {
      val s = new Span(nextId, kind, name, parent, start, runId)
      nextId += 1
      spanBuf += s
      s.end = end
      s
    }
  def spans: Seq[Span] = synchronized(spanBuf.toList)

  private val jobSpans = TrieMap[Int, Span]()
  private val stageJob = TrieMap[Int, Span]()
  val stages = TrieMap[Int, (Span, StageAcc)]()
  private val stageAcc = TrieMap[Int, StageAcc]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val parent = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt)
    parent.foreach { pid =>
      val s = record("job", s"job ${js.jobId}", pid, js.time.toDouble, Double.NaN)
      jobSpans(js.jobId) = s
      js.stageIds.foreach(sid => stageJob.putIfAbsent(sid, s))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobSpans.get(je.jobId).foreach(_.end = je.time.toDouble)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (stageJob.contains(te.stageId) && te.taskMetrics != null) {
      val a = stageAcc.getOrElseUpdate(te.stageId, new StageAcc)
      val m = te.taskMetrics
      a.synchronized {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.inRows += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        a.outRows += m.outputMetrics.recordsWritten
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    for (job <- stageJob.get(info.stageId);
         t0 <- info.submissionTime; t1 <- info.completionTime) {
      val a = stageAcc.getOrElseUpdate(info.stageId, new StageAcc)
      a.numTasks = info.numTasks
      a.reduce = info.parentIds.nonEmpty
      stages(info.stageId) =
        (record("stage", s"stage ${info.stageId}", job.id, t0.toDouble, t1.toDouble), a)
    }
  }

  private var pending = new CallExtras

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    val i = bu.blockUpdatedInfo
    if (i.blockId.isInstanceOf[RDDBlockId] && i.storageLevel.isValid) synchronized {
      pending.pinBlocks += 1
      pending.pinB += i.memSize + i.diskSize
    }
  }

  /** Path fragment that marks a scan as a sidecar read. */
  @volatile var sidecarMarker: String = "\u0000"

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val side = scans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(sidecarMarker)))
      .map(s => s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    synchronized {
      pending.analysisMs += ms("analysis")
      pending.optimizationMs += ms("optimization")
      pending.planningMs += ms("planning")
      pending.sidecarReadB += side
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Readouts received since the last call; the caller drains the bus first. */
  def takeExtras(): CallExtras = synchronized {
    val p = pending
    pending = new CallExtras
    p
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"

  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case c: CommandResultExec => scans(c.commandPhysicalPlan)
    case d: DataWritingCommandExec => scans(d.child)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
