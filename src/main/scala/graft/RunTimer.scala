package graft

/** Timing of query runs, shared by [[Bench]] and [[Profile]]. A run that
  * throws has no time: it never enters a min, median or total, so a
  * query that starts failing cannot look faster. Its failure is kept
  * instead, for the harness's `errors` report. */
object RunTimer {
  /** Wall seconds of the runs that succeeded, and the first failure. */
  final case class Runs(secs: Seq[Double], error: Option[String]) {
    def ++(more: Runs): Runs = Runs(secs ++ more.secs, error.orElse(more.error))
  }

  /** One run: its wall seconds, or what it threw. */
  def time(run: => Any): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { run; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
  }

  /** `n` runs of the same query. */
  def runs(n: Int)(run: => Any): Runs = {
    val rs = Seq.fill(n)(time(run))
    Runs(rs.collect { case Right(s) => s }, rs.collectFirst { case Left(e) => e })
  }

  /** Seconds per query, for the queries with at least one successful run. */
  def timed(rs: Map[String, Runs]): Map[String, Seq[Double]] =
    rs.collect { case (q, Runs(secs, _)) if secs.nonEmpty => q -> secs }

  /** The first failure per query, for the queries with any failed run. */
  def errors(rs: Map[String, Runs]): Map[String, String] =
    rs.collect { case (q, Runs(_, Some(e))) => q -> e }

  /** [[errors]] as a JSON object, messages escaped. */
  def errorsJson(errors: Map[String, String]): String = {
    def str(x: String): String = x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    errors.toSeq.sorted.map { case (k, v) => s"\"${str(k)}\":\"${str(v)}\"" }
      .mkString("{", ",", "}")
  }
}
