package layerbench

import scala.collection.mutable

/** Per-layer metrics of a traced window, from the spans, the counts
  * the workloads made and the Spark listener counters.
  */
object Report {

  /** Span names whose time per op is reported as `<name>_s`. */
  private val TimedSpans = Seq("sql.gate", "sql.plan", "sql.exec", "io.csv_read",
    "io.excel_read", "operators.append", "operators.incremental_dedup", "expr.parse",
    "expr.compile", "graph.run", "graph.checkpoint", "streaming.publish", "streaming.flush",
    "streaming.wait_for")

  private val SelfLayers = Seq("core", "sql", "io", "operators", "expr", "graph", "streaming")

  def perLayer(ctx: Ctx, wl: Workload, w: Window,
      out: mutable.Map[String, (Double, String)]): Unit = {
    val ops = math.max(1, w.latencies.size).toDouble
    val spans = ctx.tracer.all
    val units = Layers.PerLayer.map(l => l.name -> l.unit).toMap
    def put(name: String, v: Double): Unit = out(name) = (v, units(name))
    def countOf(name: String): Double = ctx.counts.getOrElse(name, 0.0)

    ctx.setupParts.foreach { case (name, xs) =>
      if (units.contains(name)) put(name, Stats.median(xs.toSeq))
    }
    val byName = spans.groupBy(_.name)
    TimedSpans.foreach { n =>
      put(s"${n}_s", byName.getOrElse(n, Nil).map(_.dur).sum / 1e9 / ops)
    }

    put("sql.scanned_bytes", countOf("sql.scanned_bytes") / ops)
    put("sql.rejected", countOf("sql.rejected"))
    val calls = countOf("operators.memo_calls")
    put("operators.memo_hit_ratio", if (calls == 0) 0.0 else countOf("operators.memo_hits") / calls)
    val cands = countOf("operators.lsh_candidates")
    val verified = countOf("operators.verified_pairs")
    put("operators.lsh_candidates", cands / ops)
    put("operators.verified_pairs", verified / ops)
    put("operators.pair_precision", if (cands == 0) 0.0 else verified / cands)
    val runs = countOf("graph.runs")
    put("graph.steps_per_run", if (runs == 0) 0.0 else countOf("graph.steps") / runs)
    put("streaming.microbatches", ctx.counters.microbatches / ops)

    // Spark counters of the window's ops (probe work excluded)
    val accs = ctx.counters.groups(_.startsWith("op-"))
    def sum(f: ctx.counters.Acc => Long): Double = accs.map(f).sum.toDouble
    val jobs = sum(_.jobs)
    put("spark.jobs_per_op", jobs / ops)
    put("graph.jobs_per_run", if (runs == 0) 0.0 else jobs / runs)
    put("spark.stages_per_op", sum(_.stages) / ops)
    put("spark.tasks_per_op", sum(_.tasks) / ops)
    put("spark.sched_delay_s", sum(_.schedDelayMs) / 1e3 / ops)
    put("spark.executor_run_s", sum(_.runNs) / 1e9 / ops)
    put("spark.executor_cpu_s", sum(_.cpuNs) / 1e9 / ops)
    put("spark.gc_s", sum(_.gcMs) / 1e3 / ops)
    put("spark.cpu_busy_frac", if (sum(_.runNs) == 0) 0.0 else sum(_.cpuNs) / sum(_.runNs))
    put("spark.shuffle_write_bytes", sum(_.shuffleWrite) / ops)
    put("spark.shuffle_read_bytes", sum(_.shuffleRead) / ops)
    put("spark.spill_bytes", sum(_.spill) / ops)
    put("spark.input_bytes", sum(_.input) / ops)
    put("spark.output_bytes", sum(_.output) / ops)
    put("spark.failed_tasks", sum(_.failedTasks))
    put("spark.block_store_bytes", ctx.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => (max - remaining).toDouble }.sum)

    // driver-only time: op wall not covered by any of the op's jobs
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val opSpans = spans.filter(_.layer == "op")
    val driverOnly = opSpans.map { s =>
      val (a, b) = (s.start / 1e6 + epochOffsetMs, s.end / 1e6 + epochOffsetMs)
      val jobsOf = ctx.counters.group(s"op-${s.op}").map(_.jobIntervals.toSeq).getOrElse(Nil)
      val covered = SelfTime.unionLength(jobsOf.map { case (j0, j1) =>
        ((math.max(j0, a) * 1000).toLong, (math.min(j1, b) * 1000).toLong)
      }) / 1e6
      math.max(0.0, (b - a) / 1e3 - covered)
    }
    put("spark.driver_only_s", driverOnly.sum / ops)

    val self = SelfTime.perLayer(spans)
    SelfLayers.foreach(l => put(s"self.${l}_s", self.getOrElse(l, 0L) / 1e9 / ops))
    put("self.unattributed_s", self.getOrElse("op", 0L) / 1e9 / ops)
    put("trace.unattributed_frac", SelfTime.unattributedFrac(spans))

    w.extra.foreach { case (k, v) => if (units.contains(k)) put(k, v) }
    wl.layerExtras(ctx).foreach { case (k, v) => put(k, v) }
    // every per-layer metric is reported; a layer the workload does
    // not exercise reads 0
    Layers.PerLayer.foreach(l => if (!out.contains(l.name)) put(l.name, 0.0))
  }
}
