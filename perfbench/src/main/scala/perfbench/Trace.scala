package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Work Spark did for one span: everything its jobs ran, attributed through
  * the job group the tracer sets around the span's call. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs, shuffleRead, shuffleWrite, inputRecords, spill = 0L
  /** (launch, finish) epoch ms of each task, for idle time. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Spark call site of each job, kept as a diagnostic. */
  val callSites = mutable.LinkedHashMap.empty[String, Int]
}

/** One call into a layer, named `<layer>.<call>`, e.g. `indexer.index_files`;
  * `op` is the operation the span belongs to (-1 for set-up work outside
  * an op). Times are epoch ms so task intervals can be clipped to them. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  val counters = new Counters
  def wallMs: Double = (endNs - startNs) / 1e6
  /** Span wall time in which none of its own tasks ran. */
  def idleMs: Double = {
    val clipped = counters.intervals.iterator
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) busy += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) busy += curB - curA
    math.max(0.0, wallMs - busy)
  }
}

/** Spans kept in memory and a listener that counts each span's Spark work.
  * Disabled, `span` only runs its body: the untraced run sets no job group
  * and registers no listener. The benchmark has one client thread, so one
  * span stack suffices. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var op = -1

  if (enabled) sc.addSparkListener(this)

  def inOp[A](id: Int)(body: => A): A = {
    val prev = op
    op = id
    try body finally op = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Deliver every pending listener event before the spans are read. */
  def finish(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .flatMap(g => Option(g)).flatMap(_.toIntOption)
    group.flatMap(g => Option(byId.get(g))).foreach { s =>
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      s.counters.synchronized {
        s.counters.jobs += 1
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        s.counters.callSites(site) = s.counters.callSites.getOrElse(site, 0) + 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s =>
      s.counters.synchronized(s.counters.stages += 1))

  /** Failed tasks over every job of the traced run, in a span or not. */
  @volatile var failedTasks = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!e.taskInfo.successful) failedTasks += 1
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = s.counters
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.inputRecords += m.inputMetrics.recordsRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}
