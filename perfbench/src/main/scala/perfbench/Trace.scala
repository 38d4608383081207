package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the id of the span that was
  * open on the driver thread when this one started (-1 at the top), `iter`
  * the timed iteration it belongs to (-1 during set-up). Times are
  * System.nanoTime. */
final case class Span(
    id: Int, name: String, parent: Int, iter: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {

  /** Self time per span id: the span's duration minus the part of it that
    * its direct children cover. Children that overlap each other count
    * once; any part of a child outside its parent is ignored. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced run pays nothing but one branch per layer call.
  *
  * Enabled, every span also sets the job-group local property to
  * `perfbench:<id>` for its duration, so each Spark job carries the id of
  * the span that submitted it and [[JobRecorder]] attributes listener
  * counts to the enclosing span without matching clocks. The job group is
  * the carrier because `graft.engine.Overlap` re-establishes it on its
  * pool threads; nothing in the engine reads or cancels job groups. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val recorded = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  var iter: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val ctx = sc
      val prev = ctx.getLocalProperty(Tracer.GroupProp)
      ctx.setLocalProperty(Tracer.GroupProp, Tracer.Prefix + id)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        ctx.setLocalProperty(Tracer.GroupProp, prev)
        recorded += Span(id, name, parent, iter, t0, t1)
      }
    }

  def spans: Seq[Span] = recorded.toSeq
}

object Tracer {
  val GroupProp = "spark.jobGroup.id"
  val Prefix = "perfbench:"

  /** The span id a job was submitted under, or -1. */
  def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(GroupProp)))
      .filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toInt).getOrElse(-1)
}

/** Listener that keeps what the per-layer split needs from the scheduler:
  * job intervals (epoch ms, as the scheduler stamps them) with the span
  * each job was submitted under, and task metrics summed per job. Events
  * arrive on the listener bus thread; readers call [[settle]] first. */
final class JobRecorder extends SparkListener {

  /** Task-level totals of one job; times in ns, sizes in bytes. */
  final class Totals {
    var stages = 0L
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var failures = 0L
    var outBytes = 0L
    var outFiles = 0L
  }

  /** `site` is "tables" or "sinks" when the job's call site is inside
    * `graft.engine.Tables` (schema inference) or `graft.engine.Sinks`
    * (writes), else "". */
  final class Job(val id: Int, val span: Int, val start: Long, val site: String) {
    var end: Long = -1L
    val totals = new Totals
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val callSite = e.stageInfos.headOption.map(_.details).getOrElse("")
    val site =
      if (callSite.contains("graft.engine.Tables")) "tables"
      else if (callSite.contains("graft.engine.Sinks")) "sinks"
      else ""
    jobs(e.jobId) = new Job(e.jobId, Tracer.spanOf(e.properties), e.time, site)
    e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def jobOfStage(stageId: Int): Option[Job] =
    stageJob.get(stageId).flatMap(jobs.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage(e.stageInfo.stageId).foreach(_.totals.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage(e.stageId).foreach { j =>
      val t = j.totals
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runNs += m.executorRunTime * 1000000L
        t.cpuNs += m.executorCpuTime
        t.gcNs += m.jvmGCTime * 1000000L
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        val out = m.outputMetrics.bytesWritten
        t.outBytes += out
        if (out > 0) t.outFiles += 1
      }
    }
  }

  /** Wait until every event posted so far has been delivered. */
  def settle(sc: SparkContext): Unit =
    org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)

  /** Jobs recorded so far; read after [[settle]]. */
  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)

  def reset(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}
