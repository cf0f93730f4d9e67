package graft

import org.scalatest.funsuite.AnyFunSuite

class RunTimerSpec extends AnyFunSuite {
  test("a throwing query lands in errors and cannot win min-of-N") {
    var i = 0
    // throws fast on runs 1 and 3, succeeds slowly on run 2
    val flaky = RunTimer.runs(3) {
      i += 1
      if (i != 2) throw new IllegalStateException("boom \"q\"")
      Thread.sleep(50)
    }
    val always = RunTimer.runs(3)(throw new RuntimeException("always"))
    val fine = RunTimer.runs(2)(Thread.sleep(5))
    val rs = Map("flaky" -> flaky, "always" -> always, "fine" -> fine)
    val timed = RunTimer.timed(rs)
    assert(timed.keySet === Set("flaky", "fine"))
    assert(timed("flaky").size === 1)
    assert(timed("flaky").min >= 0.05)
    assert(timed("fine").size === 2)
    val errors = RunTimer.errors(rs)
    assert(errors.keySet === Set("flaky", "always"))
    assert(errors("always") === "java.lang.RuntimeException: always")
    assert(RunTimer.errorsJson(errors) ===
      "{\"always\":\"java.lang.RuntimeException: always\"," +
        "\"flaky\":\"java.lang.IllegalStateException: boom \\\"q\\\"\"}")
    // a rerun adds its time, and a later failure is still reported
    val rerun = fine ++ RunTimer.runs(1)(throw new RuntimeException("late"))
    assert(rerun.secs === fine.secs)
    assert(rerun.error === Some("java.lang.RuntimeException: late"))
  }
}
