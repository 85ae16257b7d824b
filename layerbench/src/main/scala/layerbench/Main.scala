package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Engine

/** What one timed window produced. `latencies` are seconds per op. */
final case class Window(latencies: Seq[Double], elapsedS: Double, cpuS: Double,
    extra: Map[String, Double] = Map.empty)

/** State shared by the runner and the workloads. */
final class Ctx(val seed: Long, val cores: Int, val dir: String) {
  var spark: SparkSession = _
  var tracer: Tracer = new Tracer(false)
  val counters = new SparkCounters
  val acct = new Stats.Accounting
  /** Per-layer totals the workloads count while traced. */
  val counts: mutable.Map[String, Double] = mutable.HashMap.empty[String, Double]
  /** Named set-up phases, one sample per set-up. */
  val setupParts: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Nanoseconds of benchmark-only work inside the current op (probes
    * and output checks), subtracted from its latency.
    */
  private val excludedNs = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def traced: Boolean = tracer.enabled

  def count(name: String, v: Double): Unit =
    if (traced) counts.synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }

  /** Time a set-up phase (recorded on every set-up, traced or not). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) +=
      (System.nanoTime() - t0) / 1e9
  }

  /** Work the traced run adds only to read a counter (e.g. counting
    * LSH candidates): run under its own job group and excluded from
    * the op's latency and per-op Spark counters.
    */
  def probe[T](opId: Long)(body: => T): Option[T] =
    if (!traced) None
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(s"probe-$opId", "layerbench probe", interruptOnCancel = false)
      try Some(checked(body))
      finally sc.setJobGroup(s"op-$opId", "layerbench op", interruptOnCancel = false)
    }

  /** Checking an op's output: runs inside the op, outside its latency. */
  def checked[T](body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span("bench", "bench.check")(body)
    finally excludedNs.set(excludedNs.get() + System.nanoTime() - t0)
  }

  def takeExcludedNs(): Long = { val v = excludedNs.get(); excludedNs.set(0L); v }

  def beginOp(opId: Long): Unit =
    if (traced) spark.sparkContext.setJobGroup(s"op-$opId", "layerbench op", interruptOnCancel = false)

  def endOp(): Unit = if (traced) spark.sparkContext.clearJobGroup()

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Closed loop, one client: the next op starts when the last ends. */
  def closedLoop(seconds: Double, firstOp: Long)(op: Long => Stats.Outcome): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu0 = processCpuS
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = firstOp
    while (System.nanoTime() < deadline) {
      val s = System.nanoTime()
      beginOp(i)
      val outcome =
        try tracer.op(i)(op(i))
        catch { case e: Throwable => Stats.Failed(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally endOp()
      val e = System.nanoTime()
      acct.record(outcome)
      outcome match {
        case Stats.Failed(r) => Console.err.println(s"op $i failed: $r")
        case _ =>
      }
      lat += (e - s - takeExcludedNs()) / 1e9
      i += 1
    }
    Window(lat.toSeq, (System.nanoTime() - t0) / 1e9, processCpuS - cpu0)
  }
}

/** A workload: seeded inputs, a set-up that can be repeated, the op,
  * and the checks that run outside the timed window.
  */
abstract class Workload {
  def name: String
  /** Writes the seeded inputs under `ctx.dir`; not part of set-up time. */
  def generate(ctx: Ctx): Unit
  /** Everything before the first timed op: registration, warm-up,
    * index build, bus start.
    */
  def setup(ctx: Ctx): Unit
  /** Releases what `setup` started, before the session stops. */
  def teardown(ctx: Ctx): Unit = ()
  def window(ctx: Ctx, seconds: Double, firstOp: Long): Window
  /** Checks outside the timed window; returns failure descriptions. */
  def finalChecks(ctx: Ctx): Seq[String] = Nil
  /** Durable bytes the workload holds on disk per document or row. */
  def bytesPerDoc(ctx: Ctx): Double
  /** Per-layer metrics only the workload can compute. */
  def layerExtras(ctx: Ctx): Map[String, Double] = Map.empty
  /** Rows of per-op results for checks made after the run (DuckDB). */
  def results: Seq[String] = Nil
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv.getOrElse("workload", "sql_star"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("out", ".bench_build/run"))
  }

  def workload(name: String): Workload = name match {
    case "sql_star" => new SqlStar
    case "pipeline_read" => new PipelineRead
    case "pipeline_ingest" => new PipelineIngest
    case "agent_runtime" => new AgentRuntime
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  private def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def newSession(ctx: Ctx): Unit = {
    ctx.spark = Engine.session("layerbench", cores = ctx.cores)
    ctx.spark.sparkContext.addSparkListener(ctx.counters)
    ctx.spark.streams.addListener(ctx.counters.streaming)
  }

  def stopSession(ctx: Ctx): Unit = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val out = new File(a.out)
    deleteTree(out)
    out.mkdirs()
    val ctx = new Ctx(a.seed, cores, new File(out, "data").getAbsolutePath)
    val wl = workload(a.workload)
    val tSpin = System.nanoTime()
    val spinStart = graft.Bench.spinProbe()
    val loadStart = loadAvg()
    // set-up 1 runs from JVM start to the first op, minus the machine
    // probe and the input generation
    val preSession = jvmToMainS + (tSpin - mainEntry) / 1e9
    val tSession = System.nanoTime()
    newSession(ctx)
    val sessionEnd = System.nanoTime()
    ctx.setupParts.getOrElseUpdate("core.session_s", mutable.ArrayBuffer.empty) +=
      preSession + (sessionEnd - tSession) / 1e9
    val tGen = System.nanoTime()
    wl.generate(ctx)
    val genS = (System.nanoTime() - tGen) / 1e9
    val tSetup = System.nanoTime()
    wl.setup(ctx)
    val setups = mutable.ArrayBuffer(
      preSession + (sessionEnd - tSession) / 1e9 + (System.nanoTime() - tSetup) / 1e9)
    // further set-ups in fresh sessions; the last one serves the run
    (1 until Setups).foreach { _ =>
      wl.teardown(ctx)
      stopSession(ctx)
      val t0 = System.nanoTime()
      ctx.phase("core.session_s")(newSession(ctx))
      wl.setup(ctx)
      setups += (System.nanoTime() - t0) / 1e9
    }
    ctx.counters.reset()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val diag = mutable.LinkedHashMap.empty[String, Any]
    var window: Window = null
    if (!a.trace) {
      window = wl.window(ctx, a.seconds, 0L)
    } else {
      // untraced half, then the traced half; the gap is the overhead
      val plain = wl.window(ctx, a.seconds / 2, 0L)
      ctx.tracer = new Tracer(true)
      ctx.counters.reset()
      ctx.counters.microbatches = 0L
      window = wl.window(ctx, a.seconds / 2, 1000000L)
      val overhead = Stats.median(window.latencies) / Stats.median(plain.latencies) - 1
      metrics("trace.overhead_frac") = (overhead, "ratio")
    }
    val peakRss = vmHwmMb()
    org.apache.spark.LayerbenchBus.drain(ctx.spark.sparkContext)

    val tChecks = System.nanoTime()
    val checkFailures = wl.finalChecks(ctx)
    val checksS = (System.nanoTime() - tChecks) / 1e9
    val ops = window.latencies.size
    val tail = Stats.tail(window.latencies)
    if (!a.trace) {
      metrics("setup_s") = (Stats.median(setups.toSeq), "s")
      metrics("ops_per_s") = (ops / window.elapsedS, "op/s")
      metrics("op_p50_s") = (Stats.median(window.latencies), "s")
      metrics("op_tail_s") = (tail.value, "s")
      metrics("cpu_s_per_op") = (window.cpuS / ops, "s")
      metrics("peak_rss_mb") = (peakRss, "MB")
      metrics("index_bytes_per_doc") = (wl.bytesPerDoc(ctx), "B")
    } else {
      Report.perLayer(ctx, wl, window, metrics)
    }
    diag("workload") = a.workload
    diag("seed") = a.seed
    diag("trace") = a.trace
    diag("ops") = ops
    diag("tail_pct") = tail.pct
    diag("tail_samples") = tail.samples
    diag("setups_s") = setups.toSeq
    diag("generate_s") = genS
    diag("final_checks_s") = checksS
    diag("setup_parts_s") = ctx.setupParts.map { case (k, v) => k -> v.toSeq }.toMap
    diag("jvm_to_main_s") = jvmToMainS
    diag("cores") = cores
    diag("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    diag("heap_committed_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    diag("spin_start_s") = spinStart
    diag("load_start") = loadStart
    diag("window_extra") = window.extra
    diag("failure_reasons") = ctx.acct.failureReasons
    diag("check_failures") = checkFailures

    wl.teardown(ctx)
    if (a.trace) {
      val spans = ctx.tracer.all
      val w = Files.newBufferedWriter(Paths.get(out.getPath, "spans.jsonl"))
      try spans.foreach { s =>
        w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
          "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)))
        w.newLine()
      } finally w.close()
    }
    if (wl.results.nonEmpty) {
      val w = Files.newBufferedWriter(Paths.get(out.getPath, "results.jsonl"))
      try wl.results.foreach { r => w.write(r); w.newLine() } finally w.close()
    }
    stopSession(ctx)
    diag("spin_end_s") = graft.Bench.spinProbe()
    diag("load_end") = loadAvg()
    diag("jvm_total_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val result = Json.obj(Seq(
      "attempted" -> ctx.acct.attemptedOps,
      "failed" -> ctx.acct.failedOps,
      "rejected_as_expected" -> ctx.acct.rejectedOps,
      "checks_ok" -> checkFailures.isEmpty,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layer_map" -> Layers.PerLayer.map(l => l.name -> Map("moves" -> l.moves, "on" -> l.on)).toMap,
      "diagnostics" -> diag.toMap))
    Files.write(Paths.get(out.getPath, "result.json"), result.getBytes("UTF-8"))
    System.exit(0)
  }
}
