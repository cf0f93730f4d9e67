package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A harness must fail loudly: an op that throws, or answers wrongly, is a
  * failure and never a fast sample. */
class LoopSpec extends AnyFunSuite {
  private def sleepy(ms: Long): Int = { Thread.sleep(ms); 1 }

  test("a throwing op is a failure without a latency") {
    val (rec, out) = Loop.timed(7, "boom")(throw new IllegalStateException("x"))(
      (_: Nothing) => None)
    assert(!rec.ok && rec.ms.isEmpty && out.isEmpty)
    assert(rec.error.get.contains("IllegalStateException"))
  }

  test("a wrong answer is a failure without a latency") {
    val (rec, _) = Loop.timed(1, "wrong")(41)(v => if (v == 42) None else Some("41"))
    assert(!rec.ok && rec.ms.isEmpty)
  }

  test("fast throwing ops cannot lower the median or the tail") {
    // ops alternate: a 20 ms op that succeeds, a 0 ms op that throws
    val records = (0 until 40).map { id =>
      if (id % 2 == 0) Loop.timed(id, "ok")(sleepy(20))((_: Int) => None)._1
      else Loop.timed(id, "throws")(throw new RuntimeException("no"))(
        (_: Nothing) => None)._1
    }
    val Some((med, tail, _, n)) = Loop.latencies(records)
    assert(n == 20 && records.count(!_.ok) == 20)
    assert(med >= 20.0 && tail >= 20.0)
  }

  test("the closed loop runs at least one op and goes on after a failure") {
    assert(Loop.closed(0.0)(id => OpRecord(id, "k", Some(1.0), None))._1.size == 1)
    val (rs, _) = Loop.closed(0.05) { id =>
      Loop.timed(id, "k")(if (id == 0) throw new RuntimeException("no") else sleepy(5))(
        (_: Int) => None)._1
    }
    assert(rs.size > 1 && !rs.head.ok && rs.tail.forall(_.ok))
  }

  test("no successful op means no latency at all") {
    val failed = Seq(Loop.timed(0, "throws")(throw new RuntimeException("no"))(
      (_: Nothing) => None)._1)
    assert(Loop.latencies(failed).isEmpty)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val rs = (1 to 30).map(i => OpRecord(i, "k", Some(i.toDouble), None))
    val Some((med, tail, pct, n)) = Loop.latencies(rs)
    assert(n == 30 && med == 15.5 && tail == 20.0)
    assert(math.abs(pct - 200.0 / 3) < 1e-9)
  }
}
