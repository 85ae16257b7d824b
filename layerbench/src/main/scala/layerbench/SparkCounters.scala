package layerbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters the benchmark reads from Spark's own event stream: a
  * `SparkListener` for jobs, stages and tasks, and a
  * `StreamingQueryListener` for micro-batches. Work is attributed to
  * the job group set by the thread that submitted it, which the
  * benchmark sets to the op id around each op.
  */
final class SparkCounters extends SparkListener {

  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => acc(g).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    acc(stageGroup.getOrElse(id, "")).stages += 1
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    stageSubmitted.get(e.stageId).foreach { s =>
      a.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runNs += m.executorRunTime * 1000000L
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Accumulated counters of the groups whose id satisfies `keep`. */
  def groups(keep: String => Boolean): Seq[Acc] = synchronized {
    byGroup.collect { case (g, a) if keep(g) => a }.toSeq
  }

  def group(g: String): Option[Acc] = synchronized(byGroup.get(g))

  def reset(): Unit = synchronized {
    byGroup.clear()
    stageGroup.clear()
    stageSubmitted.clear()
    jobStart.clear()
  }

  // ---------------------------------------------------- streaming side

  @volatile var microbatches = 0L

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkCounters.this.synchronized {
        if (e.progress.numInputRows > 0) microbatches += 1
      }
  }
}
