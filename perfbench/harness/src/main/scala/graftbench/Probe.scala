package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one workload operation adds to the per-layer metrics. Named
  * facts (skip counts, files written, ...) come from the workload itself
  * through [[Layer]]. */
final class OpTrace(val name: String, val pass: Int) {
  var buildS, runS = 0.0
  var buildJobs, runJobs, stages, tasks = 0L
  var stageCoveredS = 0.0
  var oneTaskStageS = 0.0
  var execRunS, execCpuS, execGcS = 0.0
  var shuffleWriteMb, shuffleReadMb, spillMb = 0.0
  var analysisS, optimizationS, planningS = 0.0
  var exchanges = 0L
  var compiles = 0L
  var compileS = 0.0
  var jitS, gcS = 0.0
  var streamBatches = 0L
  val streamBatchS = ArrayBuffer[Double]()
  var ok = true
}

/** Workload-reported per-pass facts for the traced run (e.g. PIP skip counts,
  * Icelite files written). Summed per pass, median over passes. */
object Layer {
  private val facts = mutable.Map[(Int, String), Double]()
  @volatile var pass: Int = 0
  def add(name: String, v: Double): Unit = synchronized {
    facts((pass, name)) = facts.getOrElse((pass, name), 0.0) + v
  }
  def perPass(name: String, passes: Seq[Int]): Seq[Double] = synchronized {
    passes.map(p => facts.getOrElse((p, name), 0.0))
  }
}

/** The traced run's observer. It watches Spark from the outside only: a
  * SparkListener (jobs, stages, executor task metrics), a
  * QueryExecutionListener (planning phases, exchanges in the executed plan),
  * a StreamingQueryListener (micro-batches), Spark's codegen metrics source
  * and the JVM's JIT and GC beans. The listener bus is drained at the end of
  * every operation, so all events of an operation land on that operation. */
final class Probe(spark: SparkSession, slots: Int) {
  private val sc = spark.sparkContext
  private val ops = ArrayBuffer[OpTrace]()
  @volatile private var cur: OpTrace = _
  private var passNo = 0
  private val timedPasses = ArrayBuffer[Int]()
  private val passWallS = mutable.Map[Int, Double]()
  private val passCachedRdds = mutable.Map[Int, Double]()
  private val passStorageMb = mutable.Map[Int, Double]()
  private val passHeapMb = mutable.Map[Int, Double]()
  private var passT0 = 0L
  // stage id -> its interval, kept per operation for the gap computation
  private val stageIntervals = ArrayBuffer[(Long, Long)]()
  private var opStartMs, opEndMs = 0L
  private var codegen0 = (0L, 0.0)
  private var jvm0 = JvmCounters(0, 0)

  private val PhaseKey = "graftbench.phase"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = cur
      if (t != null) {
        val building = Option(e.properties).exists(_.getProperty(PhaseKey) == "build")
        if (building) t.buildJobs += 1 else t.runJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t = cur
      val si = e.stageInfo
      if (t != null && si.failureReason.isEmpty) {
        t.stages += 1
        t.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          t.execRunS += m.executorRunTime / 1e3
          t.execCpuS += m.executorCpuTime / 1e9
          t.execGcS += m.jvmGCTime / 1e3
          t.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
          t.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1048576.0
          t.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        }
        for (s <- si.submissionTime; c <- si.completionTime) {
          stageIntervals.synchronized { stageIntervals += ((s, c)) }
          if (si.numTasks == 1) t.oneTaskStageS += (c - s) / 1e3
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val t = cur
      if (t != null) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        t.analysisS += ms("analysis")
        t.optimizationS += ms("optimization")
        t.planningS += ms("planning")
        t.exchanges += Probe.exchanges(qe.executedPlan)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = cur
      if (t != null && e.progress.numInputRows > 0) {
        t.streamBatches += 1
        t.streamBatchS += e.progress.batchDuration / 1e3
      }
    }
  })

  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def passStart(): Unit = {
    passNo = Layer.pass
    passT0 = System.nanoTime()
  }

  def passEnd(): Unit = {
    drain()
    passWallS(passNo) = (System.nanoTime() - passT0) / 1e9
    timedPasses += passNo
    passCachedRdds(passNo) = sc.getPersistentRDDs.size.toDouble
    passStorageMb(passNo) = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    System.gc()
    passHeapMb(passNo) = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def opStart(name: String, building: Boolean): Unit = {
    sc.setLocalProperty(PhaseKey, if (building) "build" else "run")
    if (building) {
      drain()
      stageIntervals.synchronized(stageIntervals.clear())
      codegen0 = codegenNow()
      jvm0 = JvmCounters.now()
      opStartMs = System.currentTimeMillis()
      val t = new OpTrace(name, passNo)
      ops.synchronized(ops += t)
      cur = t
    }
  }

  def opEnd(name: String, buildS: Double, runS: Double): Unit = {
    opEndMs = System.currentTimeMillis()
    drain()
    val t = cur
    t.buildS = buildS; t.runS = runS
    t.ok = buildS >= 0
    val cg = codegenNow()
    t.compiles = cg._1 - codegen0._1
    t.compileS = math.max(0.0, cg._2 - codegen0._2)
    val j = JvmCounters.now()
    t.jitS = j.jitS - jvm0.jitS
    t.gcS = j.gcS - jvm0.gcS
    t.stageCoveredS = Probe.covered(stageIntervals.synchronized(stageIntervals.toList),
      opStartMs, opEndMs)
    cur = null
    sc.setLocalProperty(PhaseKey, null)
  }

  /** Per-layer metrics as a JSON object: every value is the median over the
    * timed passes of that pass's total (or of the pass's mean, for the
    * per-batch stream time). Operation-specific metrics are taken from the
    * operations whose names [[Probe.OpMetric]] maps to them. */
  def render: String = {
    val passes = timedPasses.toSeq
    // a failed operation is left out of every figure, as in the untraced run
    val byPass = ops.toSeq.filter(o => o.ok && passes.contains(o.pass)).groupBy(_.pass)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def perPass(f: Seq[OpTrace] => Double): Double =
      med(passes.map(p => f(byPass.getOrElse(p, Seq.empty))))
    def sumOf(f: OpTrace => Double): Double = perPass(_.map(f).sum)
    def opsNamed(names: Set[String])(xs: Seq[OpTrace]) = xs.filter(o => names(o.name))

    val j = new Json()
    j.num("entry.build_s", sumOf(_.buildS))
    j.num("entry.build_jobs", sumOf(_.buildJobs.toDouble))
    j.num("entry.run_s", sumOf(_.runS))
    j.num("catalyst.analysis_s", sumOf(_.analysisS))
    j.num("catalyst.optimization_s", sumOf(_.optimizationS))
    j.num("catalyst.planning_s", sumOf(_.planningS))
    j.num("catalyst.exchanges", sumOf(_.exchanges.toDouble))
    j.num("codegen.compiles", sumOf(_.compiles.toDouble))
    j.num("codegen.compile_s", sumOf(_.compileS))
    j.num("jvm.jit_s", sumOf(_.jitS))
    j.num("exec.jobs", sumOf(o => (o.buildJobs + o.runJobs).toDouble))
    j.num("exec.stages", sumOf(_.stages.toDouble))
    j.num("exec.tasks", sumOf(_.tasks.toDouble))
    j.num("exec.stage_gap_s", sumOf(o => math.max(0.0, o.buildS + o.runS - o.stageCoveredS)))
    j.num("exec.run_s", sumOf(_.execRunS))
    j.num("exec.cpu_s", sumOf(_.execCpuS))
    j.num("exec.slot_use", perPass { xs =>
      val wall = xs.map(o => o.buildS + o.runS).sum
      if (wall > 0) xs.map(_.execRunS).sum / (slots * wall) else 0.0 })
    j.num("exec.one_task_stage_s", sumOf(_.oneTaskStageS))
    j.num("exec.shuffle_write_mb", sumOf(_.shuffleWriteMb))
    j.num("exec.shuffle_read_mb", sumOf(_.shuffleReadMb))
    j.num("exec.spill_mb", sumOf(_.spillMb))
    j.num("exec.gc_s", sumOf(_.execGcS))
    for ((metric, (names, f)) <- Probe.OpMetric)
      j.num(metric, perPass(xs => opsNamed(names)(xs).map(f).sum))
    j.num("stream.batches", sumOf(_.streamBatches.toDouble))
    j.num("stream.batch_s", perPass { xs =>
      val b = xs.flatMap(_.streamBatchS); if (b.isEmpty) 0.0 else b.sum / b.size })
    for (f <- Probe.LayerFacts) j.num(f, med(Layer.perPass(f, passes)))
    j.num("spark.cached_rdds", med(passes.map(passCachedRdds)))
    j.num("spark.storage_mb", med(passes.map(passStorageMb)))
    j.num("jvm.gc_s", sumOf(_.gcS))
    j.num("jvm.heap_after_pass_mb", med(passes.map(passHeapMb)))
    j.num("pass_wall_s", med(passes.map(passWallS)))
    j.raw("per_pass", passes.map { p =>
      val xs = byPass.getOrElse(p, Seq.empty)
      s"""{"wall_s":${passWallS(p)},"compiles":${xs.map(_.compiles).sum},""" +
        s""""jit_s":${xs.map(_.jitS).sum},"build_jobs":${xs.map(_.buildJobs).sum}}"""
    }.mkString("[", ",", "]"))
    j.raw("ops", ops.toSeq.filter(o => o.ok && passes.contains(o.pass)).groupBy(_.name).toSeq
      .sortBy(_._1).map { case (n, xs) =>
        val k = new Json()
        k.num("count", xs.size.toDouble)
        k.num("wall_s", med(xs.map(o => o.buildS + o.runS)))
        k.num("build_s", med(xs.map(_.buildS)))
        k.num("build_jobs", med(xs.map(_.buildJobs.toDouble)))
        k.num("run_jobs", med(xs.map(_.runJobs.toDouble)))
        k.num("stages", med(xs.map(_.stages.toDouble)))
        k.num("compiles", med(xs.map(_.compiles.toDouble)))
        k.num("exec_run_s", med(xs.map(_.execRunS)))
        k.num("gap_s", med(xs.map(o => math.max(0.0, o.buildS + o.runS - o.stageCoveredS))))
        s"${Json.quote(n)}:${k.render}"
      }.mkString("{", ",\n", "}"))
    j.render
  }
}

object Probe {
  /** Operation-level metrics: metric -> (operation names, value). The
    * `catalog` workload's suite queries of the same operators count too. */
  val OpMetric: Seq[(String, (Set[String], OpTrace => Double))] = Seq(
    "pages.geocode_s" -> (Set("geocode", "q_geocode"), o => o.buildS + o.runS),
    "pip.shelve_s" -> (Set("shelve", "q_pip_shelve"), o => o.buildS + o.runS),
    "knn.build_s" -> (Set("knn", "q_knn"), o => o.buildS),
    "knn.build_jobs" -> (Set("knn", "q_knn"), o => o.buildJobs.toDouble),
    "knn.run_s" -> (Set("knn", "q_knn"), o => o.runS),
    "tiling.coverage_s" -> (Set("coverage", "q_tile_coverage"), o => o.buildS + o.runS),
    "text.dedup_s" -> (Set("dedup"), o => o.buildS + o.runS),
    "icelite.commit_s" -> (Set("index"), o => o.buildS + o.runS),
    "icelite.merge_s" -> (Set("stacmeta", "orders"), o => o.buildS + o.runS),
    "icelite.compact_s" -> (Set("compact"), o => o.buildS + o.runS),
    "icelite.read_pruned_s" -> (Set("probe"), o => o.buildS + o.runS),
  )

  /** Facts only the workload can see (reported through [[Layer]]). */
  val LayerFacts: Seq[String] = Seq(
    "pip.skip_nomatch", "pip.skip_multi",
    "text.dedup_pairs", "icelite.files_written", "icelite.bytes_written_mb",
    "icelite.write_amp", "icelite.space_amp", "icelite.files_opened_per_probe")

  /** Shuffle exchanges in an executed plan, through adaptive query stages. */
  def exchanges(p: SparkPlan): Long = {
    val self = p match { case _: ShuffleExchangeLike => 1L; case _ => 0L }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    self + kids.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Seconds of [t0, t1] covered by the union of the intervals (ms). */
  def covered(iv: List[(Long, Long)], t0: Long, t1: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    var start = 0L
    for ((a, b) <- clipped) {
      if (a > end) { if (end > Long.MinValue) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (end > Long.MinValue) total += end - start
    total / 1e3
  }
}
