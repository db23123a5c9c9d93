package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` makes the DataFrame (eager driver jobs
  * included), `act` drains or commits it. Pure commands build nothing and do
  * all their work in `act`. `rows` counts the rows of the tables the
  * operation is given, fixed by the inputs and never by the plan. */
final case class Op(name: String, rows: Long, build: () => DataFrame,
                    act: DataFrame => Unit)

/** One attempt of an [[Op]]. A thrown operation is recorded as failed and
  * its time is kept out of every latency. */
final case class Sample(name: String, pass: Int, buildS: Double, runS: Double,
                        cpuS: Double, rows: Long, ok: Boolean, err: String) {
  def wallS: Double = buildS + runS
}

trait Workload {
  /** Open the inputs (part of set-up: schemas read, footers opened). */
  def open(spark: SparkSession): Unit
  /** Untimed work before each pass (e.g. emptying tables). */
  def beforePass(spark: SparkSession, pass: Int): Unit = ()
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** Untimed work after each operation and each pass (traced facts). */
  def afterOp(spark: SparkSession, op: Op): Unit = ()
  def afterPass(spark: SparkSession, pass: Int): Unit = ()
  /** Where the operations leave the outputs the independent checks read. */
  def outDir: Path
  /** Untimed, after the timed pass: anything else the checks read. */
  def checkDump(spark: SparkSession): Unit = ()
}

/** Benchmark driver process: `java -cp <classes> graftbench.Main
  * --workload W --inputs DIR --work DIR --out FILE --trace 0|1 --seed N
  * [--passes P] [--setup-only 1]`. Runs the workload's passes and writes one
  * JSON record to `--out`. With `--setup-only 1` it stops after set-up and
  * records only that, so a run can sample set-up more than once. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val inputs = Paths.get(opts("inputs")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val seed = opts.getOrElse("seed", "0").toLong
    val passes = opts.getOrElse("passes", "1").toInt
    val setupOnly = opts.getOrElse("setup-only", "0") == "1"
    val slots = Runtime.getRuntime.availableProcessors()

    Files.createDirectories(work)
    val spark = graft.Session.local(slots, s"graftbench-$workloadName")
    require(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_st_contains")),
      "graft extensions are not registered (spark.sql.extensions)")
    val workload: Workload = workloadName match {
      case "shelve"  => new ShelveWorkload(inputs, work, trace)
      case "ingest"  => new IngestWorkload(inputs, work, trace)
      case "catalog" => new CatalogWorkload(inputs, work, seed)
      case other     => sys.error(s"unknown workload $other")
    }
    workload.open(spark)
    val setupDoneMs = System.currentTimeMillis()
    val rec = new Json()
    rec.num("setup_done_epoch_ms", setupDoneMs.toDouble)
    rec.num("jvm_uptime_at_setup_s", ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    rec.num("setup_cpu_s", cpuS())
    if (setupOnly) {
      Files.writeString(out, rec.render)
      spark.stop()
      return
    }

    // Passes timed from the first operation in this fresh driver: a
    // spark-submit job pays its own JIT and codegen warm-up.
    val probe = if (trace) Some(new Probe(spark, slots)) else None
    val samples = ArrayBuffer[Sample]()
    val jvm0 = JvmCounters.now()
    val t0 = System.nanoTime()
    for (pass <- 0 until passes) {
      Layer.pass = pass
      workload.beforePass(spark, pass)
      probe.foreach(_.passStart())
      for (op <- workload.ops(spark, pass)) {
        val s = timeOp(op, pass, probe)
        System.err.println(f"[graftbench] pass $pass%d ${op.name} ${s.wallS}%.3f s" +
          (if (s.ok) "" else s" FAILED: ${s.err}"))
        samples += s
        workload.afterOp(spark, op)
      }
      workload.afterPass(spark, pass)
      probe.foreach(_.passEnd())
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val jvm1 = JvmCounters.now()
    val c0 = System.nanoTime()
    workload.checkDump(spark)
    val checkDumpS = (System.nanoTime() - c0) / 1e9

    probe.foreach(p => rec.raw("trace", p.render))
    if (trace) rec.raw("kernels", Kernels.measure(seed).render)

    rec.num("timed_s", timedS)
    rec.num("check_dump_s", checkDumpS)
    rec.num("slots", slots.toDouble)
    rec.str("spark_version", spark.version)
    rec.str("java_version", System.getProperty("java.version"))
    rec.str("jvm", System.getProperty("java.vm.name"))
    rec.num("jit_timed_s", jvm1.jitS - jvm0.jitS)
    rec.num("gc_timed_s", jvm1.gcS - jvm0.gcS)
    rec.num("peak_rss_mb", JvmCounters.vmHwmMb())
    rec.str("check_dir", workload.outDir.toString)
    rec.raw("samples", samples.map { s =>
      val j = new Json()
      j.str("op", s.name); j.num("pass", s.pass.toDouble)
      j.num("build_s", s.buildS); j.num("run_s", s.runS); j.num("cpu_s", s.cpuS)
      j.num("rows", s.rows.toDouble); j.bool("ok", s.ok)
      if (!s.ok) j.str("err", s.err)
      j.render
    }.mkString("[", ",\n", "]"))
    Files.writeString(out, rec.render)
    spark.stop()
  }

  /** CPU seconds this process has spent so far on everything but JIT
    * compilation: all threads, minus the compiler threads (read from
    * /proc/self/task; the JVM keeps them alive with
    * -XX:-UseDynamicNumberOfCompilerThreads). The kernel accounts stolen time
    * as steal, not to the process. How much a cold run compiles varies by
    * tens of CPU seconds between identical runs, so it is reported apart
    * (`jvm.jit_s`). */
  def cpuS(): Double = {
    val all = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    all - compilerThreadsCpuS()
  }

  private def compilerThreadsCpuS(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val close = stat.lastIndexOf(')')
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        if (!comm.contains("CompilerThre")) 0.0
        else {
          // fields after the command: state is field 3, utime 14, stime 15
          val f = stat.substring(close + 2).split(" ")
          (f(11).toLong + f(12).toLong) / ClockTicks
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }
  private val ClockTicks = 100.0 // USER_HZ on Linux

  def timeOp(op: Op, pass: Int, probe: Option[Probe]): Sample = {
    val c0 = cpuS()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      probe.foreach(_.opStart(op.name, building = true))
      val df = op.build()
      t1 = System.nanoTime()
      probe.foreach(_.opStart(op.name, building = false))
      op.act(df)
      val t2 = System.nanoTime()
      val cpu = cpuS() - c0
      probe.foreach(_.opEnd(op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      Sample(op.name, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpu, op.rows, ok = true, "")
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        probe.foreach(_.opEnd(op.name, -1, -1))
        Sample(op.name, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpuS() - c0, op.rows, ok = false,
          String.valueOf(e.getMessage).take(300))
    }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
}

/** JIT and GC time of this JVM so far. */
final case class JvmCounters(jitS: Double, gcS: Double)
object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3)

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON object writer (keys are plain identifiers). */
final class Json {
  private val parts = ArrayBuffer[String]()
  def num(k: String, v: Double): Json = {
    parts += s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""; this
  }
  def bool(k: String, v: Boolean): Json = { parts += s""""$k":$v"""; this }
  def str(k: String, v: String): Json = { parts += s""""$k":${Json.quote(v)}"""; this }
  def raw(k: String, v: String): Json = { parts += s""""$k":$v"""; this }
  def render: String = parts.mkString("{", ",\n", "}")
}
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
