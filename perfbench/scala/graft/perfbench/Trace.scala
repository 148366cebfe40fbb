package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call: a delivery, a layer call under it, or a Spark job.
  * Times are epoch microseconds; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    startUs: Long, endUs: Long)

/** Spark work of one job group, summed over its jobs, stages and tasks.
  * `jobs` were submitted by the group's own thread; `asyncJobs` from
  * Spark's background threads (broadcast and adaptive-execution futures),
  * whose number can differ between runs of the same input. */
final case class GroupStats(jobs: Int, asyncJobs: Int, stages: Int, tasks: Int,
    executorRunS: Double, deserializeS: Double, shuffleBytes: Long,
    spillBytes: Long, busyS: Double, taskSkew: Double)

/** Attributes jobs, stages and tasks to the job group that submitted
  * them, and keeps every span in memory until the run ends. Listener
  * callbacks arrive on Spark's bus thread; readers call `drain` first. */
final class Tracer extends SparkListener {
  private final case class TaskRec(stage: Int, launchMs: Long,
      finishMs: Long, runMs: Long, deserMs: Long, shuffle: Long,
      spill: Long)

  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSite = mutable.Map.empty[Int, String]
  private val stagesDone = mutable.Map.empty[String, Int]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[TaskRec]]
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    jobSite(e.jobId) = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    jobSpans += ((g, e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
      stagesDone(g) = stagesDone.getOrElse(g, 0) + 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += TaskRec(
      e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorDeserializeTime).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.totalBytesRead +
        x.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  /** Work of one job group. `busyS` is the union of the intervals in which
    * at least one of its tasks was running; `taskSkew` is max ÷ median
    * task time in the stage with the longest task. */
  def group(g: String): GroupStats = synchronized {
    val ts = tasks.getOrElse(g, mutable.ArrayBuffer.empty[TaskRec]).toSeq
    val intervals = ts.map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    intervals.foreach { case (s, f) =>
      if (f > end) { busy += f - math.max(s, end); end = f }
    }
    val skew = if (ts.isEmpty) 1.0 else {
      val worst = ts.maxBy(t => t.finishMs - t.launchMs).stage
      val ds = ts.filter(_.stage == worst)
        .map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = ds(ds.size / 2)
      if (med <= 0) 1.0 else ds.last / med
    }
    val (async, sync) = jobGroup.collect { case (j, `g`) => j }
      .partition(j => jobSite(j).contains("withThreadLocalCaptured"))
    GroupStats(sync.size, async.size, stagesDone.getOrElse(g, 0),
      ts.size, ts.map(_.runMs).sum / 1e3, ts.map(_.deserMs).sum / 1e3,
      ts.map(_.shuffle).sum, ts.map(_.spill).sum, busy / 1e3, skew)
  }

  /** Times `f` as a span; Spark jobs it submits are grouped under `group`
    * and become its children when the spans are written out. */
  def span[T](name: String, parent: Int, group: String)(f: => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val s = Tracer.nowUs()
    val r = f
    val sp = Span(id, parent, name, group, s, Tracer.nowUs())
    synchronized { spans += sp }
    (r, sp)
  }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def add(sp: Span): Unit = synchronized { spans += sp }

  /** Every span, Spark jobs included (each job a child of the span that
    * carries its group). */
  def allSpans: Seq[Span] = synchronized {
    val byGroup = spans.filter(_.group.nonEmpty).map(s => s.group -> s.id).toMap
    spans.toSeq ++ jobSpans.toSeq.map { case (g, job, s, e) =>
      Span(-job - 1, byGroup.getOrElse(g, 0),
        s"spark.job.$job ${jobSite.getOrElse(job, "")}", g,
        s * 1000, e * 1000)
    }
  }
}

object Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}
