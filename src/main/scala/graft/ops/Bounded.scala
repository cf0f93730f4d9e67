package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The bounded probe in front of every driver-side kernel.
  *
  * An operator with an exact driver algorithm (Tarjan SCC, union-find
  * CC, Brandes, BFS, C3 linearization, …) first asks whether its input
  * fits the driver: [[collect]] pulls at most `k + 1` rows in one job, so
  * the probe never holds more than the threshold even on a corpus-sized
  * frame. A hit runs the kernel on the rows; a miss takes the operator's
  * distributed loop, which computes the identical answer.
  *
  * One key sizes every probe: `spark.graft.localThreshold` (default
  * 200000 rows). Operators take it as the default of their
  * `localThreshold` parameter, so a single session setting moves every
  * operator at once. `k ≤ 0` is the "always distributed" switch:
  * [[collect]] then returns `None` without running a job, whatever the
  * frame holds — the empty frame included.
  */
object Bounded {
  /** The probe size: `spark.graft.localThreshold` of the active
    * session, read at call time. */
  def threshold: Int =
    SparkSession.active.conf.getOption("spark.graft.localThreshold")
      .map(_.toInt).getOrElse(200000)

  /** `Some(rows)` iff `df` has at most `k` rows, from ONE
    * `limit(k + 1)` job; `None` (and no job) when `k ≤ 0`. */
  def collect(df: DataFrame, k: Int): Option[Array[Row]] =
    if (k <= 0) None
    else Some(df.limit(k + 1).collect()).filter(_.length <= k)
}
