package layerbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.expr.SafeEval
import graft.graph.{EdgeSpec, GraphExecutor, GraphSpec, NodeSpec}
import graft.streaming.{AgentEvent, EventBus, Subscription}
import graft.streaming.EntryPoints.{EntryPointRuntime, EntryPointSpec}

/** The graph shapes the agent workload draws from, and the routing
  * each computes, restated directly over the generated rows.
  */
object Shapes {

  final case class Shape(name: String, spec: GraphSpec, parallel: Boolean,
      pauseBefore: Set[String], expected: Seq[Row] => Map[String, Long],
      registry: GraphExecutor.Registry = Map.empty)

  private def kind(r: Row) = r.getString(2)
  private def value(r: Row) = r.getInt(3)

  def router(a: Int, b: Int): Shape = Shape("router", GraphSpec(
      nodes = Seq(NodeSpec("in"), NodeSpec("hi"), NodeSpec("mid"), NodeSpec("lo")),
      edges = Seq(
        EdgeSpec("in", "hi", "conditional", Some(s"value >= $a"), priority = 2),
        EdgeSpec("in", "mid", "conditional", Some(s"value >= $b and kind == 'click'"), priority = 1),
        EdgeSpec("in", "lo", "always", priority = 0)),
      entryNode = "in", terminalNodes = Seq("hi", "mid", "lo")),
    parallel = false, Set.empty, rows => {
      val hi = rows.count(value(_) >= a)
      val mid = rows.count(r => value(r) < a && value(r) >= b && kind(r) == "click")
      Map("hi" -> hi.toLong, "mid" -> mid.toLong, "lo" -> (rows.size - hi - mid).toLong)
    })

  def fanOut(c: Int, pause: Boolean): Shape = Shape(if (pause) "fanout_pause" else "fanout",
    GraphSpec(
      nodes = Seq("in", "a", "b", "c", "join").map(NodeSpec(_)),
      edges = Seq(
        EdgeSpec("in", "a"),
        EdgeSpec("in", "b", "conditional", Some("kind == 'view'")),
        EdgeSpec("in", "c", "conditional", Some(s"value < $c")),
        EdgeSpec("a", "join"), EdgeSpec("b", "join"), EdgeSpec("c", "join")),
      entryNode = "in", terminalNodes = Seq("join")),
    parallel = true, if (pause) Set("join") else Set.empty, rows =>
      Map("join" -> (rows.size + rows.count(kind(_) == "view") + rows.count(value(_) < c)).toLong))

  /** A cycle bounded by a visit limit: `loop` adds 10 to `value` and
    * routes a row back while it stays under `d`, at most three visits.
    */
  def cycle(d: Int): Shape = Shape("cycle", GraphSpec(
      nodes = Seq(NodeSpec("in"), NodeSpec("loop", maxVisits = 3), NodeSpec("done")),
      edges = Seq(
        EdgeSpec("in", "loop"),
        EdgeSpec("loop", "loop", "conditional", Some(s"value < $d"), priority = 1),
        EdgeSpec("loop", "done", "always", priority = 0)),
      entryNode = "in", terminalNodes = Seq("done")),
    parallel = false, Set.empty, rows => Map("done" -> rows.count(value(_) + 30 >= d).toLong),
    registry = Map("loop" -> ((df: DataFrame) => df.withColumn("value", col("value") + 10))))

  /** Op `i`'s shape and the first event id of its slice. */
  def draw(seed: Long, i: Long, events: Int, slice: Int): (Shape, Long) = {
    val r = Gen.rng(seed, s"agentop$i")
    val shape = math.floorMod(i, 6L).toInt match {
      case 0 | 3 => router(r.between(60, 90), r.between(20, 50))
      case 1 | 4 => fanOut(r.between(10, 60), pause = false)
      case 2 => cycle(r.between(40, 95))
      case 5 => fanOut(r.between(10, 60), pause = true)
    }
    (shape, 1L + r.int(events - slice))
  }
}

/** Open-loop agent runtime: entry-point triggers at a fixed rate, each
  * carrying an events slice through a seeded graph shape, with
  * lifecycle events published to a bus with filtered subscribers.
  */
final class AgentRuntime extends Workload {
  val name = "agent_runtime"
  /** Triggers per second: about half the capacity measured on a 4-core
    * machine (about 1.8 op/s with two execution threads), so latency is
    * mostly service time and a briefly slower machine does not build a
    * queue that dominates the run.
    */
  val Rate = 1.0
  val Slice = 400
  val Events = 20000
  private var rows: IndexedSeq[Row] = IndexedSeq.empty
  private var events: DataFrame = _
  /** One bus per subscriber: several subscriptions on one `EventBus`
    * share its MemoryStream source, and each query's commit trims
    * batches the others have not read yet ("Offsets committed out of
    * order", lost events), so the workload fans events out to one bus
    * per subscriber instead.
    */
  private var buses: Seq[(String, Subscription, EventBus)] = Nil
  private var runtime: EntryPointRuntime = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val seq = new AtomicLong(1)
  /** Rows held in pause checkpoints since the last set-up. */
  private val checkpointedRows = new AtomicLong(0)
  private def checkpoints(ctx: Ctx) = new File(s"${ctx.dir}/checkpoints")
  private val inputs = new ConcurrentHashMap[DataFrame, Pending]()
  /** Every event published; `ts` is unique per event. */
  private val published = new java.util.concurrent.ConcurrentLinkedQueue[AgentEvent]()
  private var ctxRef: Ctx = _

  final class Pending(val opId: Long, val shape: Shapes.Shape, val slice: Seq[Row],
      val due: Long, val submitted: Long) {
    @volatile var started = 0L
    @volatile var finished = 0L
    @volatile var outcome: Stats.Outcome = Stats.Failed("not run")
  }

  /** Two filtered subscribers. Each bus polls continuously
    * (`ProcessingTime(0)`), so every subscriber costs a busy loop. */
  private val Subscribers = Seq(
    "lifecycle" -> Subscription(eventTypes = Set("node_started", "node_completed")),
    "completed" -> Subscription(eventTypes = Set("graph_completed")))

  private def matches(s: Subscription, e: AgentEvent): Boolean =
    (s.eventTypes.isEmpty || s.eventTypes.contains(e.event_type))

  def generate(ctx: Ctx): Unit = {
    val t = Gen.events(ctx.seed, Events)
    rows = t.rows
    Tables.write(ctx, t)
  }

  def setup(ctx: Ctx): Unit = {
    ctxRef = ctx
    val spark = ctx.spark
    ctx.phase("core.open_s")(Engine.open(spark, ctx.dir))
    events = spark.table("events").cache()
    events.count()
    published.clear()
    Main.deleteTree(checkpoints(ctx))
    checkpointedRows.set(0)
    buses = Subscribers.map { case (n, s) =>
      val bus = new EventBus(spark, maxHistory = 1000000)
      bus.subscribe(n, s)
      (n, s, bus)
    }
    val threads = math.min(2, ctx.cores)
    pool = Executors.newFixedThreadPool(threads)
    runtime = new EntryPointRuntime()(ExecutionContext.fromExecutorService(pool))
    runtime.register(EntryPointSpec("agent", maxConcurrent = threads), body)
    ctx.phase("bench.warmup_s") {
      // a router run (op -6) and a paused-and-resumed fan-out (op -1)
      Seq(-6L, -1L).foreach { w =>
        val p = submit(ctx, w, System.nanoTime())
        Await.result(p._2, 120.seconds)
      }
    }
  }

  override def teardown(ctx: Ctx): Unit = {
    if (runtime != null) runtime.shutdown()
    if (pool != null) { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
    buses.foreach(_._3.stop())
    runtime = null; pool = null; buses = Nil
  }

  private def submit(ctx: Ctx, opId: Long, due: Long) = {
    val (shape, first) = Shapes.draw(ctx.seed, opId, Events, Slice)
    val input = events.filter(col("event_id") >= first && col("event_id") < first + Slice)
    val p = new Pending(opId, shape, rows.slice((first - 1).toInt, (first - 1).toInt + Slice),
      due, System.nanoTime())
    inputs.put(input, p)
    (p, runtime.trigger("agent", input))
  }

  /** The entry point's body: one graph run, its terminal counts, and
    * the delivery of its lifecycle events.
    */
  private def body(input: DataFrame): DataFrame = {
    val p = inputs.remove(input)
    val ctx = ctxRef
    val spark = ctx.spark
    val t = ctx.tracer
    p.started = System.nanoTime()
    ctx.beginOp(p.opId)
    try {
      p.outcome = t.op(p.opId) {
        val schema = input.schema
        p.shape.spec.edges.flatMap(_.condition).foreach { c =>
          val ast = t.span("expr", "expr.parse")(SafeEval.parse(c))
          t.span("expr", "expr.compile")(SafeEval.compileTyped(ast, schema))
        }
        val exec = s"op${p.opId}"
        val hook: GraphExecutor.EventHook = (etype, node) => {
          val e = AgentEvent(etype, "agent", node, exec, Map("shape" -> p.shape.name),
            new Timestamp(seq.getAndIncrement()), graph_id = p.shape.name)
          t.span("streaming", "streaming.publish")(buses.foreach(_._3.publish(e)))
          published.add(e)
          ()
        }
        val dir = s"${checkpoints(ctx)}/$exec"
        var result = t.span("graph", "graph.run") {
          GraphExecutor.run(p.shape.spec, input, p.shape.registry, parallelFanOut = p.shape.parallel,
            pauseBefore = p.shape.pauseBefore,
            checkpointDir = if (p.shape.pauseBefore.nonEmpty) Some(dir) else None, onEvent = hook)
        }
        if (result.pausedAt.isDefined) {
          // the human-in-the-loop hand-off: announce the pause on a
          // channel of its own and wait until it is observed there
          val seen = t.span("streaming", "streaming.wait_for") {
            val hitl = new EventBus(spark)
            try {
              hitl.publish(AgentEvent("paused", "hitl", result.pausedAt.get, exec))
              hitl.waitFor(Subscription(eventTypes = Set("paused"), executionId = Some(exec)),
                timeoutMs = 30000)
            } finally hitl.stop()
          }
          if (seen.isEmpty) throw new IllegalStateException(s"$exec: pause never observed on the bus")
          // at a pause before the fan-in every row bound for the
          // terminal is pending, so the checkpoint holds exactly them
          checkpointedRows.addAndGet(p.shape.expected(p.slice).values.sum)
          result = t.span("graph", "graph.checkpoint") {
            GraphExecutor.resume(p.shape.spec, spark, dir, p.shape.registry,
              parallelFanOut = p.shape.parallel)
          }
        }
        ctx.count("graph.runs", 1)
        ctx.count("graph.steps", result.steps)
        val counts = t.span("graph", "graph.count") {
          result.terminalOutputs.map { case (n, df) => n -> df.count() }
        }
        t.span("streaming", "streaming.flush")(buses.foreach(_._3.flush()))
        val want = p.shape.expected(p.slice).filter(_._2 > 0)
        if (counts.filter(_._2 > 0) == want) Stats.Ok
        else Stats.Failed(s"${p.shape.name}: terminal counts $counts, expected $want")
      }
    } catch {
      case e: Throwable => p.outcome = Stats.Failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      ctx.endOp()
      p.finished = System.nanoTime()
    }
    spark.emptyDataFrame
  }

  /** Open loop: trigger `Rate` ops a second for `seconds`, then wait for
    * them all. Latency runs from each trigger's due time.
    */
  def window(ctx: Ctx, seconds: Double, firstOp: Long): Window = {
    val n = math.max(1, (seconds * Rate).toInt)
    val cpu0 = ctx.processCpuS
    val t0 = System.nanoTime()
    val sent = (0 until n).map { k =>
      val due = t0 + (k / Rate * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      submit(ctx, firstOp + k, due)
    }
    val lag = sent.map { case (p, _) => (p.submitted - p.due) / 1e9 }
    sent.foreach { case (_, f) => Await.ready(f, 170.seconds) }
    val elapsed = (System.nanoTime() - t0) / 1e9
    sent.foreach { case (p, f) =>
      val o = f.value.flatMap(_.toOption) match {
        case Some(r) if r.success => p.outcome
        case Some(r) => Stats.Failed(s"execution failed: ${r.error.getOrElse("")}")
        case None => Stats.Failed("execution did not complete")
      }
      ctx.acct.record(o)
      o match { case Stats.Failed(r) => Console.err.println(s"op ${p.opId} failed: $r"); case _ => }
    }
    val done = sent.map(_._1).filter(_.finished > 0)
    Window(done.map(p => (p.finished - p.due) / 1e9), elapsed, ctx.processCpuS - cpu0, Map(
        "bench.generator_lag_s" -> lag.sum / n,
        "streaming.queue_wait_s" -> done.map(p => (p.started - p.submitted) / 1e9).sum / n))
  }

  /** Each published event reaches each matching subscriber exactly
    * once; a shortfall or a duplicate fails the check.
    */
  private var deliveryRatio = 0.0

  override def finalChecks(ctx: Ctx): Seq[String] = {
    buses.foreach(_._3.flush())
    val pub = published.toArray(Array.empty[AgentEvent]).toSeq
    var expected = 0L
    var delivered = 0L
    val problems = buses.flatMap { case (n, s, bus) =>
      val want = pub.filter(matches(s, _)).map(_.ts.getTime).toSet
      val got = bus.received(n).select("ts").collect().map(_.getTimestamp(0).getTime).toSeq
      expected += want.size
      delivered += got.count(want.contains)
      val dup = got.size - got.toSet.size
      val missing = (want -- got).size
      val extra = (got.toSet -- want).size
      if (dup + missing + extra == 0) None
      else Some(s"subscriber $n: $missing missing, $dup duplicated, $extra unexpected")
    }
    deliveryRatio = if (expected == 0) 0.0 else delivered.toDouble / expected
    problems
  }

  /** Pause-checkpoint bytes per checkpointed row. */
  def bytesPerDoc(ctx: Ctx): Double =
    Main.dirBytes(checkpoints(ctx))._2.toDouble / math.max(1L, checkpointedRows.get())

  override def layerExtras(ctx: Ctx): Map[String, Double] =
    Map("streaming.delivery_ratio" -> deliveryRatio)
}
