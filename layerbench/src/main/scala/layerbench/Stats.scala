package layerbench

/** Latency summaries and op accounting. */
object Stats {

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency: the value at the highest percentile that still
    * has `beyond` samples above it, i.e. the (n - beyond)-th smallest
    * sample. `pct` is that percentile. With fewer than `beyond + 1`
    * samples there is no such percentile and the maximum is reported
    * (`pct` = 100) so the caller can flag it.
    */
  final case class Tail(value: Double, pct: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n)
  }

  /** How one op ended. A planted statement that the gate rejects is a
    * success; one that runs is a failure, as is any op that throws or
    * returns a wrong result.
    */
  sealed trait Outcome
  case object Ok extends Outcome
  case object RejectedAsExpected extends Outcome
  final case class Failed(reason: String) extends Outcome

  final class Accounting {
    private var attempted = 0L
    private var failed = 0L
    private var rejected = 0L
    private val reasons = scala.collection.mutable.LinkedHashMap.empty[String, Int]

    def record(o: Outcome): Unit = synchronized {
      attempted += 1
      o match {
        case Ok =>
        case RejectedAsExpected => rejected += 1
        case Failed(r) =>
          failed += 1
          val key = r.take(200)
          reasons(key) = reasons.getOrElse(key, 0) + 1
      }
    }

    def attemptedOps: Long = synchronized(attempted)
    def failedOps: Long = synchronized(failed)
    def rejectedOps: Long = synchronized(rejected)
    def failedFrac: Double = synchronized(if (attempted == 0) 0.0 else failed.toDouble / attempted)
    def failureReasons: Map[String, Int] = synchronized(reasons.toMap)
  }
}
