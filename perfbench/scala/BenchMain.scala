package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Graphs}

/** The benchmark JVM, launched by `run.py` once per run on tables it
  * generated: builds the session, runs one cold pass over the workload's
  * mix, one untimed warm-up pass, then timed warm passes until `--seconds`
  * (and at least `--min-passes` of them) have passed, writing each
  * execution's output under `<out>/out/<step>/p<pass>` and the timings and
  * the oracle SQL of every checked step to `<out>/result.json`. With
  * `--trace 1` every pass is traced; the per-layer readouts go to the same
  * file and the span tree to `<out>/trace.json`.
  */
object BenchMain {

  final case class Opts(workload: String, seed: Long,
      seconds: Double, minPasses: Int, trace: Boolean, data: String, out: String,
      launchMs: Long, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("min-passes").toInt, get("trace") == "1", get("data"), get("out"),
      get("launch-ms").toLong, get("cores").toInt)
  }

  /** Warm passes after the cold one that are run and checked but not
    * timed: the first warm pass still loads and compiles code. */
  val WarmupPasses = 1

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload)
    val spark = session(o)
    val readyMs = System.currentTimeMillis()
    try new Runner(spark, o, w, readyMs).run()
    finally spark.stop()
  }

  /** graft.Bench's session conf at local[cores]; scratch dirs inside `out`. */
  def session(o: Opts): SparkSession = {
    val n = o.cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.nanosConf._1, graft.Tables.nanosConf._2)
      .config(graft.Tables.aqeMinPartitionConf._1, graft.Tables.aqeMinPartitionConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ready = extensions loaded and one job scheduled end to end
    spark.sql("SELECT 1").collect()
    spark
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)

  /** Writes Scala maps, sequences and numbers as JSON. */
  def writeJson(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}

final class Runner(spark: SparkSession, o: BenchMain.Opts, w: Workload, readyMs: Long) {
  import BenchMain._

  private val out = Path.of(o.out)
  private val side = out.resolve("sidecar")
  private val results = out.resolve("out")
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val tracer: Option[Tracer] =
    if (o.trace) Some(new Tracer(s"${w.name}-${o.seed}", () => nowMs())) else None

  final case class PassRec(idx: Int, wallS: Double, cpuS: Double,
      heapMb: Double, span: Option[Span])

  private val warmSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val outputDirs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
  private val coldSamples = mutable.LinkedHashMap[String, Double]()
  private val executions = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
  private val errors = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
  private val errorMsgs = mutable.ArrayBuffer[String]()
  private val extras = mutable.Map[Int, CallExtras]()

  private def scrub(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.clearCache()
    spark.catalog.listTables().filter(_.isTemporary)
      .collect().foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
  }

  private def pass(idx: Int, runSpan: Option[Span]): PassRec = {
    val passSpan = tracer.map(_.open("pass", s"pass $idx", runSpan.fold(-1)(_.id)))
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    for (step <- w.steps) {
      val q0 = System.nanoTime()
      val qSpan = tracer.map(_.open("query", step.name, passSpan.get.id))
      val groups = mutable.Set[String]()
      // a span whose id is the job group of the jobs `body` runs
      def inSpan[T](kind: String)(body: => T): T = tracer match {
        case None => body
        case Some(tr) =>
          val s = tr.open(kind, step.name, qSpan.get.id)
          groups += Tracer.GroupPrefix + s.id
          spark.sparkContext.setJobGroup(Tracer.GroupPrefix + s.id, s"$kind ${step.name}",
            interruptOnCancel = false)
          try body finally { spark.sparkContext.clearJobGroup(); tr.close(s) }
      }
      val ok = try {
        step match {
          case q: QueryStep =>
            val df = inSpan("build")(q.build(spark, o.data, side))
            val dir = results.resolve(q.name).resolve(s"p$idx").toString
            inSpan("execute")(df.write.parquet(dir))
            outputDirs.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += dir
          case ws: WriteStep =>
            inSpan("write")(ws.write(spark, o.data, side))
        }
        true
      } catch {
        case e: Throwable =>
          errors(step.name) += 1
          val msg = s"${step.name}: ${e.getClass.getName}: ${e.getMessage}"
          errorMsgs += msg.take(500)
          System.err.println(s"[perfbench] FAILED $msg")
          false
      }
      val dt = (System.nanoTime() - q0) / 1e9
      executions(step.name) += 1
      for (tr <- tracer; s <- qSpan) {
        tr.close(s)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val x = tr.takeExtras()
        for ((g, r) <- Dedup.drainCcRuns() if groups(g)) {
          x.ccRounds += r.rounds
          if (r.escalated) x.ccEscalations += 1
        }
        extras(s.id) = x
      }
      if (tracer.isEmpty) Dedup.drainCcRuns()
      if (ok) {
        if (idx == 0) coldSamples(step.name) = dt
        else if (idx > WarmupPasses)
          warmSamples.getOrElseUpdate(step.name, mutable.ArrayBuffer()) += dt
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - cpu0) / 1e9
    for (tr <- tracer; s <- passSpan) tr.close(s)
    scrub()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    PassRec(idx, wall, cpu, heap, passSpan)
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def run(): Unit = {
    Files.createDirectories(side)
    Files.createDirectories(results)
    for (t <- tracer) {
      t.sidecarMarker = side.toString
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val runSpan = tracer.map(_.open("run", w.name, -1))
    // the setup span covers process launch to session ready
    for (t <- tracer; r <- runSpan)
      t.record("setup", "session", r.id, o.launchMs.toDouble, readyMs.toDouble)

    val cg0 = codegen()
    val cold = pass(0, runSpan)
    val cg1 = codegen()

    for (i <- 1 to WarmupPasses) pass(i, runSpan)

    val warm = mutable.ArrayBuffer[PassRec]()
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // timed passes until the window is used up, at least `--min-passes`
    var i = WarmupPasses + 1
    while (i <= WarmupPasses + o.minPasses || elapsed < o.seconds) {
      warm += pass(i, runSpan)
      i += 1
    }
    val warmS = elapsed
    for (t <- tracer; r <- runSpan) t.close(r)

    val layers: Seq[(String, Double)] = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      val loops = loopRounds()
      new Layers(t, o.cores, extras.toMap, side).compute(warm.toSeq, cg0, cg1, loops)
    }.getOrElse(Nil)

    tracer.foreach { t =>
      writeJson(out.resolve("trace.json"), t.spans.map { s =>
        ListMap("id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.start, "end_ms" -> s.end, "run" -> s.runId)
      })
    }

    val oracleSql = graft.SparkEntry.oracleSql
    val outputs = w.steps.collect { case q: QueryStep =>
      q.name -> ListMap("oracle" -> q.oracle, "sql" -> oracleSql(q.oracle),
        "dirs" -> outputDirs.get(q.name).fold(Seq.empty[String])(_.toSeq))
    }
    writeJson(out.resolve("result.json"), ListMap(
      "workload" -> w.name, "seed" -> o.seed, "cores" -> o.cores, "trace" -> o.trace,
      "setup_s" -> (readyMs - o.launchMs) / 1000.0,
      "cold_s" -> cold.wallS,
      "warm_window_s" -> warmS,
      "passes" -> warm.toSeq.map(p => ListMap("idx" -> p.idx,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "heap_mb" -> p.heapMb)),
      "cold_heap_mb" -> cold.heapMb,
      "cold_steps" -> ListMap.from(coldSamples),
      "warm_steps" -> ListMap.from(warmSamples.map { case (k, v) => k -> v.toSeq }),
      "executions" -> ListMap.from(executions),
      "errors" -> ListMap.from(errors),
      "error_msgs" -> errorMsgs.toSeq,
      "outputs" -> ListMap.from(outputs),
      "layers" -> ListMap.from(layers)))
  }

  /** Round count of q_pagerank_converged's gated loop, read from the loop
    * operator itself: the traced run re-runs it on the query's inputs with
    * the query's parameters (eps 20‰, at most 10 rounds). */
  private def loopRounds(): Seq[(String, Int)] =
    if (!w.steps.exists(_.name == "q_pagerank_converged")) Nil
    else Seq("q_pagerank_converged" -> Graphs.pageRankConverged(
      Graphs.coOccurrencePairs(graft.Tables(spark, o.data, "lineitem"),
        "l_orderkey", "l_partkey"), epsMilli = 20L, maxIters = 10)._2)
}
