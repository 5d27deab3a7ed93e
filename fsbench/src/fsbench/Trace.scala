package fsbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Layer spans for the traced run. Each call into a layer gets a span
  * and its own Spark job group; a listener attributes the jobs, task
  * time, shuffle and spill that group submits to the span. Jobs that
  * carry no group (submitted from a pool thread the program owns) go
  * to the span open when they started. Everything is kept in memory
  * and read once, at the end of the run. */
final class Tracer(val enabled: Boolean) {

  /** `op` is the benchmark operation the call belongs to (-1: none). */
  final class Span(val id: Int, val layer: String, val op: Long, val startMs: Long) {
    var endMs = 0L
    var failed = false
  }

  private final class Job(val group: String, val startMs: Long) {
    var endMs = 0L
    var failed = false
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  var currentOp = -1L
  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[Job]

  /** Listen to one session's scheduler. Job and stage ids restart at 0
    * in every session the run creates, so the id maps are per session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    val byJob = mutable.HashMap.empty[Int, Job]
    val byStage = mutable.HashMap.empty[Int, Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        val j = new Job(group, e.time)
        jobs += j
        byJob(e.jobId) = j
        e.stageIds.foreach(s => byStage(s) = j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        byJob.get(e.jobId).foreach { j =>
          j.endMs = e.time
          j.failed = e.jobResult != JobSucceeded
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        byStage.get(e.stageId).foreach { j =>
          j.tasks += 1
          if (e.reason != org.apache.spark.Success) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
    })
    ()
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.FsbenchBus.drain(spark.sparkContext)

  def span[A](spark: SparkSession, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, layer, currentOp, System.currentTimeMillis())
      spans += s
      val sc = spark.sparkContext
      sc.setJobGroup(s"fsbench-${s.id}", layer)
      try body
      catch { case t: Throwable => s.failed = true; throw t }
      finally {
        s.endMs = System.currentTimeMillis()
        sc.clearJobGroup()
      }
    }

  private def jobsOf(s: Span): Seq[Job] = {
    val g = s"fsbench-${s.id}"
    jobs.toSeq.filter(j => j.group == g ||
      (j.group.isEmpty && j.startMs >= s.startMs && j.startMs <= s.endMs))
  }

  /** Total length of the union of `[start, end]` intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The eight metrics every layer reports. */
  def layer(name: String): Map[String, Double] = lock.synchronized {
    val ss = spans.toSeq.filter(_.layer == name)
    val js = ss.flatMap(jobsOf)
    val gap = ss.map { s =>
      val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs > 0) j.endMs else s.endMs, s.endMs)))
      (s.endMs - s.startMs) - covered(iv)
    }.sum
    Map(
      "calls" -> ss.size.toDouble,
      "busy_ms" -> ss.map(s => s.endMs - s.startMs).sum.toDouble,
      "driver_gap_ms" -> gap.toDouble,
      "jobs" -> js.size.toDouble,
      "task_ms" -> js.map(_.taskMs).sum.toDouble,
      "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "failed" -> ss.count(_.failed).toDouble)
  }

  /** Rows read by the jobs of the given spans. */
  def recordsRead(spanIds: Seq[Int]): Long = lock.synchronized {
    val ids = spanIds.toSet
    spans.toSeq.filter(s => ids(s.id)).flatMap(jobsOf).map(_.recordsRead).sum
  }

  /** The scheduler as the listener saw it over `[fromMs, toMs]`: every
    * job, attributed to a span or not. `calls` counts tasks. */
  def scheduler(fromMs: Long, toMs: Long): Map[String, Double] = lock.synchronized {
    val js = jobs.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    val busy = covered(js.map(j => (j.startMs, if (j.endMs > 0) j.endMs else toMs)))
    Map(
      "calls" -> js.map(_.tasks).sum.toDouble,
      "busy_ms" -> busy.toDouble,
      "driver_gap_ms" -> math.max(0L, (toMs - fromMs) - busy).toDouble,
      "jobs" -> js.size.toDouble,
      "task_ms" -> js.map(_.taskMs).sum.toDouble,
      "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
      "failed" -> (js.count(_.failed) + js.map(_.failedTasks).sum).toDouble)
  }
}
