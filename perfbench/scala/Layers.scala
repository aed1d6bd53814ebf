package perfbench

import java.nio.file.{Files, Path}

/** Per-layer readouts of the traced run, averaged over its warm passes
  * (codegen comes from the cold pass: warm passes hit the generated-code
  * cache). */
final class Layers(t: Tracer, cores: Int, extras: Map[Int, CallExtras], side: Path) {
  import Tracer.covered

  private val spans = t.spans
  private val children = spans.groupBy(_.parent)
  private def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
  private def selfMs(s: Span): Double =
    s.dur - covered(kids(s).map(c => (c.start, c.end)), s.start, s.end)

  /** Readouts of one traced pass. */
  private def passLayers(p: Span, cpuS: Double): Map[String, Double] = {
    val queries = kids(p).filter(_.kind == "query")
    val calls = queries.flatMap(kids)
    val jobs = calls.flatMap(kids).filter(_.kind == "job")
    val jobIds = jobs.map(_.id).toSet
    val st = t.stages.values.filter { case (s, _) => jobIds(s.parent) }.toSeq
    val accs = st.map(_._2)
    val kindOf = calls.map(c => c.id -> c.kind).toMap
    val jobKind = jobs.map(j => j.id -> kindOf(j.parent)).toMap
    val xs = queries.flatMap(q => extras.get(q.id))
    def sumL(f: StageAcc => Long): Double = accs.map(f).sum.toDouble
    val taskRun = sumL(_.runMs.sum)
    val taskCpu = accs.map(_.cpuNs).sum / 1e6
    val outRows = st.filter { case (s, _) => jobKind.get(s.parent).contains("execute") }
      .map(_._2.outRows).sum.toDouble
    val scanRows = sumL(_.inRows)
    val skewW = st.filter(_._2.runMs.nonEmpty).map { case (s, a) =>
      val r = a.runMs.sorted
      val med = r(r.size / 2).toDouble
      val ratio = if (med > 0) r.last / med else 1.0
      (s.dur, ratio)
    }
    val skewDen = skewW.map(_._1).sum
    val passMs = p.dur
    val bySelf = (spans.filter(s => s.id == p.id) ++ queries ++ calls ++ jobs ++ st.map(_._1))
      .groupBy(_.kind).map { case (k, ss) => s"self.${k}_ms" -> ss.map(selfMs).sum }
    Map(
      "queries.build_ms" -> calls.filter(_.kind == "build").map(_.dur).sum,
      "queries.build_jobs" -> jobs.count(j => jobKind(j.id) == "build").toDouble,
      "plan.analysis_ms" -> xs.map(_.analysisMs).sum.toDouble,
      "plan.optimization_ms" -> xs.map(_.optimizationMs).sum.toDouble,
      "plan.planning_ms" -> xs.map(_.planningMs).sum.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> accs.map(_.runMs.size).sum.toDouble,
      "exec.task_cpu_ms" -> taskCpu,
      "exec.task_run_ms" -> taskRun,
      "exec.gc_ms" -> sumL(_.gcMs),
      "exec.fetch_wait_ms" -> sumL(_.fetchMs),
      "exec.driver_gap_ms" -> (passMs - covered(jobs.map(j => (j.start, j.end)), p.start, p.end)),
      "exec.core_busy" -> taskRun / (cores * passMs),
      "exec.stage_skew" -> (if (skewDen > 0) skewW.map(x => x._1 * x._2).sum / skewDen else 1.0),
      "shuffle.write_b" -> sumL(_.shuffleW),
      "shuffle.read_b" -> sumL(_.shuffleR),
      "shuffle.partitions" -> accs.filter(_.reduce).map(_.numTasks).sum.toDouble,
      "spill.b" -> sumL(_.spill),
      "tables.scan_rows" -> scanRows,
      "tables.scan_b" -> sumL(_.inBytes),
      "tables.rows_per_out_row" -> (if (outRows > 0) scanRows / outRows else 0.0),
      "pin.blocks" -> xs.map(_.pinBlocks).sum.toDouble,
      "pin.b" -> xs.map(_.pinB).sum.toDouble,
      "dedup.cc_escalations" -> xs.map(_.ccEscalations).sum.toDouble,
      "sidecar.write_ms" -> calls.filter(_.kind == "write").map(_.dur).sum,
      "sidecar.read_b" -> xs.map(_.sidecarReadB).sum.toDouble,
      "driver.cpu_ms" -> (cpuS * 1000 - taskCpu),
      "trace.query_coverage" -> queries.map(q => kids(q).map(_.dur).sum / q.dur)
        .minOption.getOrElse(1.0)
    ) ++ bySelf ++ queries.flatMap { q =>
      extras.get(q.id).filter(_.ccRounds > 0).map(x => s"loop.rounds.${q.name}" -> x.ccRounds.toDouble)
    }
  }

  def compute(warm: Seq[Runner#PassRec], cg0: (Long, Double), cg1: (Long, Double),
              loops: Seq[(String, Int)]): Seq[(String, Double)] = {
    val per = warm.map(p => passLayers(p.span.get, p.cpuS))
    val keys = per.flatMap(_.keys).distinct.sorted
    val avg = keys.map(k => k -> per.map(_.getOrElse(k, 0.0)).sum / per.size)
    avg ++ loops.map { case (q, k) => s"loop.rounds.$q" -> k.toDouble } ++ Seq(
      "plan.codegen_classes" -> (cg1._1 - cg0._1).toDouble,
      "plan.codegen_ms" -> (cg1._2 - cg0._2),
      "sidecar.write_b" -> diskBytes(side))
  }

  private def diskBytes(p: Path): Double = if (!Files.exists(p)) 0.0 else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble
    finally s.close()
  }
}
