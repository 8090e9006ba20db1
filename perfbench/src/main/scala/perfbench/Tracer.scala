package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** In-memory span recorder: unit → harness phase → Spark job → stage.
  *
  * The harness tags every job it submits with the local property
  * [[Tracer.SpanKey]] ("<unit>/<phase>"); the listener files jobs, stages
  * and tasks under that tag. Nothing is written while units run — the
  * spans go to one file at the end ([[writeSpans]]). */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var enabled: Boolean = true

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stageTag = scala.collection.mutable.Map.empty[Int, String]

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    tagOf(e.properties).foreach { t =>
      openJobs(e.jobId) = Job(e.jobId, t, e.time, -1L, e.stageIds.length)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) synchronized {
      tagOf(e.properties).foreach(t => stageTag(e.stageInfo.stageId) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageTag.get(si.stageId).foreach { t =>
      stages += Stage(si.stageId, si.attemptNumber(), t, si.name,
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTag.get(e.stageId).filter(_ => m != null).foreach { t =>
      tasks += Task(e.stageId, t, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }

  /** Wait for the bus, then summarize every span whose tag starts with
    * `prefix` over the wall window [loMs, hiMs). */
  def summarize(prefix: String, loMs: Long, hiMs: Long, cores: Int): Summary = {
    BusDrain(sc)
    synchronized {
      val js = jobs.filter(_.tag.startsWith(prefix)).toSeq
      val ts = tasks.filter(_.tag.startsWith(prefix)).toSeq
      val jobIntervals = js.map(j => (j.startMs, j.endMs))
      val busyMs = Stats.unionLength(jobIntervals, loMs, hiMs)
      val runS = ts.map(_.runMs).sum / 1e3
      Summary(
        jobs = js.length,
        stages = ts.map(_.stageId).distinct.length,
        tasks = ts.length,
        driverGapS = Stats.driverGap(jobIntervals, loMs, hiMs) / 1e3,
        taskRunS = runS,
        taskCpuS = ts.map(_.cpuNs).sum / 1e9,
        slotUtil = if (busyMs > 0) runS / (busyMs / 1e3 * cores) else 0.0,
        shuffleWriteMb = ts.map(_.shuffleWrite).sum / MB,
        shuffleReadMb = ts.map(_.shuffleRead).sum / MB,
        spillMb = ts.map(_.spill).sum / MB,
        peakExecMemMb = (0L +: ts.map(_.peakExecMem)).max / MB,
        stragglerS = Stats.stragglerTime(
          ts.groupBy(_.stageId).map { case (k, v) => k -> v.map(_.durationMs / 1e3) }))
    }
  }

  /** One JSON object per line: every job, stage and task span, each
    * carrying its "<unit>/<phase>" tag. */
  def writeSpans(path: java.nio.file.Path, extra: Seq[String]): Unit = {
    BusDrain(sc)
    val lines = synchronized {
      jobs.map(j => s"""{"kind":"job","tag":${Json.str(j.tag)},"job":${j.id},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.nStages}}""") ++
      stages.map(s => s"""{"kind":"stage","tag":${Json.str(s.tag)},"stage":${s.id},""" +
        s""""attempt":${s.attempt},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"tasks":${s.nTasks}}""") ++
      tasks.map(t => s"""{"kind":"task","tag":${Json.str(t.tag)},"stage":${t.stageId},""" +
        s""""duration_ms":${t.durationMs},"run_ms":${t.runMs},"cpu_ns":${t.cpuNs},""" +
        s""""shuffle_read":${t.shuffleRead},"shuffle_write":${t.shuffleWrite},""" +
        s""""spill":${t.spill},"peak_exec_mem":${t.peakExecMem}}""")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, (extra ++ lines).mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  final case class Job(id: Int, tag: String, startMs: Long, endMs: Long, nStages: Int)
  final case class Stage(id: Int, attempt: Int, tag: String, name: String,
      startMs: Long, endMs: Long, nTasks: Int)
  final case class Task(stageId: Int, tag: String, durationMs: Long, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, peakExecMem: Long)

  /** Spark-runtime layer of one span, per unit of work. */
  final case class Summary(jobs: Int, stages: Int, tasks: Int, driverGapS: Double,
      taskRunS: Double, taskCpuS: Double, slotUtil: Double,
      shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
      peakExecMemMb: Double, stragglerS: Double) {
    def metrics: Seq[(String, Double, String)] = Seq(
      ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
      ("tasks", tasks.toDouble, "count"), ("driver_gap_s", driverGapS, "s"),
      ("task_run_s", taskRunS, "s"), ("task_cpu_s", taskCpuS, "s"),
      ("slot_util", slotUtil, "ratio"), ("shuffle_write_mb", shuffleWriteMb, "MB"),
      ("shuffle_read_mb", shuffleReadMb, "MB"), ("spill_mb", spillMb, "MB"),
      ("peak_exec_mem_mb", peakExecMemMb, "MB"), ("straggler_s", stragglerS, "s"))
  }

  /** Tag every job the block submits from this thread. */
  def span[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, tag)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}

/** Minimal JSON writing; the harness emits only flat objects. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
