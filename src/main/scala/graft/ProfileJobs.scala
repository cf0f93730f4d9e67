package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Per-job attribution companion to [[Profile]]: prints every job the
  * named queries submit — stage count, task count, and the last stage's
  * call-site name — so an action-count-bound query decomposes line by
  * line (AQE query-stage materializations show up as the
  * `withThreadLocalCaptured` future submissions; explicit actions carry
  * their source line). This is how the r19 round established that the
  * fixpoint families' job counts were AQE stage submissions per
  * exchange, not driver actions. Measurement-only; never on a query
  * path. Usage:
  *   SPARK_GRAFT_ONLY=q61_scc sbt "runMain graft.ProfileJobs"
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val taskCnt = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?")
        val n = j.stageInfos.map(_.numTasks).sum
        jobLog.add(f"job ${j.jobId}%4d stages=${j.stageInfos.size}%2d tasks=$n%4d  $site")
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        taskCnt.incrementAndGet()
    })
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val picked = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) => !name.startsWith("st_") }
    // warm up so lazily-resolved derived tables don't pollute the log
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
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      jobLog.clear()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch {
        case e: Throwable => System.err.println(s"[$name] ERR ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"===== $name wall=${f"$wall%.3f"} jobs=${jobLog.size}")
      jobLog.forEach(l => println(s"  $l"))
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
