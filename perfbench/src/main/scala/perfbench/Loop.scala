package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One checked operation. `ms` is present only when the op completed and its
  * answer was right: a failed op never enters a latency sample. */
final case class OpRecord(id: Int, kind: String, ms: Option[Double],
    error: Option[String], rows: Long = 0L) {
  def ok: Boolean = error.isEmpty
}

object Loop {
  /** Time `run`, then check its result outside the timed interval. An op
    * that throws, or whose check returns an error, is recorded as a failure
    * without a time. */
  def timed[A](id: Int, kind: String)(run: => A)(check: A => Option[String])
      : (OpRecord, Option[A]) = {
    val t0 = System.nanoTime()
    val res = try Right(run) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        (OpRecord(id, kind, None, Some(s"threw: $e")), None)
      case Right(a) =>
        val err =
          try check(a) catch { case NonFatal(e) => Some(s"check threw: $e") }
        (OpRecord(id, kind, if (err.isEmpty) Some(ms) else None, err), Some(a))
    }
  }

  /** Closed loop with one client: the next op starts when the previous one
    * has finished, until `seconds` have passed. At least one op runs. */
  def closed(seconds: Double)(op: Int => OpRecord): (Seq[OpRecord], Double) = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[OpRecord]
    var i = 0
    while (i == 0 || System.nanoTime() < end) {
      out += op(i)
      i += 1
    }
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** NaN for no samples. */
  def median(samples: Seq[Double]): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val xs = samples.sorted
      val n = xs.size
      if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
    }

  /** Median and the highest percentile that has at least ten samples
    * beyond it, with that percentile; None when no op succeeded. */
  def latencies(records: Seq[OpRecord]): Option[(Double, Double, Double, Int)] = {
    val xs = records.flatMap(_.ms).sorted
    if (xs.isEmpty) None
    else {
      val n = xs.size
      val med = median(xs)
      // below 20 samples that percentile would lie under the median: the
      // maximum is reported instead, as p100
      val (pct, tail) =
        if (n >= 20) (100.0 * (n - 10) / n, xs(n - 11)) else (100.0, xs.last)
      Some((med, tail, pct, n))
    }
  }
}
