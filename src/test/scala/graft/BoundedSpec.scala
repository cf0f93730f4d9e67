package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.JobCount
import graft.enrich.Analytics
import graft.ops.Bounded

class BoundedSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // one partition: a limit collect over several partitions may scan
  // them in more than one job, which is not the probe's own cost
  private def rows(n: Int) = spark.range(0, n, 1, 1).toDF("x")

  test("k <= 0 returns None and runs no job, the empty frame included") {
    for (df <- Seq(rows(5), rows(0)); k <- Seq(0, -1)) {
      val (out, jobs) = JobCount(spark.sparkContext)(Bounded.collect(df, k))
      assert(out.isEmpty)
      assert(jobs === 0)
    }
  }

  test("k >= rows returns every row in one job; k < rows returns None") {
    for (k <- Seq(5, 6, 1000)) {
      val (out, jobs) = JobCount(spark.sparkContext)(Bounded.collect(rows(5), k))
      assert(out.map(_.map(_.getLong(0)).toSeq) === Some(0L until 5L))
      assert(jobs === 1)
    }
    assert(Bounded.collect(rows(5), 4).isEmpty)
    assert(Bounded.collect(rows(5), 1).isEmpty)
  }

  test("the session key is the default threshold: 0 sends " +
      "stronglyConnected down the distributed arm, rows unchanged") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "d"), ("p", "a")).toDF("src", "dst")
    def run() = JobCount(spark.sparkContext) {
      Analytics.stronglyConnected(edges)
    }
    assert(Bounded.threshold === 200000)
    val (kernel, kernelJobs) = run()
    spark.conf.set("spark.graft.localThreshold", "0")
    val (dist, distJobs) =
      try {
        assert(Bounded.threshold === 0)
        run()
      } finally spark.conf.unset("spark.graft.localThreshold")
    // the kernel arm builds its answer from one probe; the distributed
    // arm runs its trim and coloring rounds while the frame is built
    assert(distJobs > kernelJobs)
    val sorted = (df: org.apache.spark.sql.DataFrame) =>
      df.as[(String, String)].collect().sorted.toSeq
    assert(sorted(dist) === sorted(kernel))
    assert(sorted(kernel) === sorted(
      Analytics.stronglyConnected(edges, localThreshold = 0)))
  }
}
