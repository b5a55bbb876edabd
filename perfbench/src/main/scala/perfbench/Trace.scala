package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call from the benchmark into a layer of the program. */
final case class Span(id: Int, name: String, layer: String, parent: Int, lap: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. While tracing
  * is on, each span also sets the Spark job group to its id, so the
  * listener's stage metrics join to the span that caused them.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil

  def span[T](name: String, layer: String, lap: Int)(f: => T): T = {
    if (!enabled) return f
    val id = spans.size
    spans += null // reserve the id; filled in when the span ends
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    if (layer != "lap") sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (layer != "lap") sc.clearJobGroup()
      spans(id) = Span(id, name, layer, parent, lap, t0, t1)
    }
  }

  def closed: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Span duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - closed.filter(_.parent == s.id).map(_.seconds).sum

  def writeJson(file: java.io.File): Unit = {
    val lines = closed.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""lap":${s.lap},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Per-stage totals as the listener sees them. */
final class StageTotals(val stageId: Int, val group: String) {
  var submitted = 0L
  var completed = 0L
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def wallSeconds: Double = math.max(0L, completed - submitted) / 1e3
}

/** The benchmark's own Spark listener: task metrics summed per stage, and
  * stages attributed to the job group (the span) that ran them.
  */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stages = mutable.LinkedHashMap.empty[Int, StageTotals]
  private val jobsByGroup = mutable.HashMap.empty[String, Int]
  private val endedJobs = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { endedJobs += e.jobId }

  private def totals(stageId: Int): StageTotals =
    stages.getOrElseUpdate(stageId, new StageTotals(stageId, stageGroup.getOrElse(stageId, "")))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    totals(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = totals(e.stageInfo.stageId)
    t.submitted = e.stageInfo.submissionTime.getOrElse(t.submitted)
    t.completed = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(e.stageId)
    t.tasks += 1
    t.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
    }
  }

  def jobsEnded(ids: Seq[Int]): Boolean = synchronized(ids.forall(endedJobs.contains))
  def jobs(group: String): Int = synchronized(jobsByGroup.getOrElse(group, 0))
  def stagesOf(group: String): Seq[StageTotals] = synchronized(stages.values.filter(_.group == group).toSeq)

  /** Wait until the listener has seen the end of every job of `group`. */
  def drain(sc: SparkContext, group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq
    val deadline = System.nanoTime() + 10000000000L
    while (!jobsEnded(ids) && System.nanoTime() < deadline) Thread.sleep(2)
  }
}
