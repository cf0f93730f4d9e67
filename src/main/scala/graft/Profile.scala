package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1): runs the
  * named queries with a listener that counts jobs/stages/tasks and sums
  * executor task time, so per-query wall clock decomposes into "how many
  * scheduler round-trips" vs "how much actual task work". Optionally
  * dumps `.explain("formatted")` per query to plans/<tag>/.
  *
  * Usage: SPARK_GRAFT_ONLY=q46_btw,q63_topo sbt "runMain graft.Profile"
  *   SPARK_GRAFT_PLANDIR=plans/r18  -> also write explain files
  * Prints one line per query: name wall_s jobs stages tasks taskTime_s.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskTimeMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
    })
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val picked = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) => !name.startsWith("st_") }
    // same warm-up discipline as Bench so JIT/codegen is steady state
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      picked.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    try {
      graft.store.GraphTables.nodes(spark, sfDir).count()
      graft.store.GraphTables.edges(spark, sfDir).count()
      graft.store.GraphTables.coPurchase(spark, sfDir).count()
      graft.store.GraphTables.ccPrev(spark, sfDir).count()
    } catch { case _: Throwable => () }
    def reset(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    reset()
    println(f"${"query"}%-22s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"taskT_s"}%8s")
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      planDir.foreach { dir =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(dir); f.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/$name.txt"), txt)
      }
      val best = (1 to runs).map { _ =>
        spark.sparkContext.setJobDescription(name)
        val j0 = jobs.get; val s0 = stages.get
        val t0c = tasks.get; val tt0 = taskTimeMs.get
        // a failed run is infinite, so it can never win minBy
        val wall = RunTimer.time(fn(spark, sfDir).count()) match {
          case Right(secs) => secs
          case Left(e) =>
            System.err.println(s"[$name] ERROR $e"); Double.PositiveInfinity
        }
        (wall, jobs.get - j0, stages.get - s0, tasks.get - t0c,
          (taskTimeMs.get - tt0) / 1e3)
      }.minBy(_._1)
      reset()
      println(f"$name%-22s ${best._1}%8.3f ${best._2}%6d ${best._3}%7d ${best._4}%7d ${best._5}%8.2f")
    }
    spark.stop()
  }
}
