package etlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** Per-job record: the job's group (`<workload>/<pass>/<query>`), its
  * description (the phase: build, plan or deliver), listener times in epoch
  * milliseconds, and task metrics summed over its stages.
  */
final class JobRec(val id: Int, val group: String, val phase: String,
                   val startMs: Long, val stages: Int) {
  @volatile var endMs: Long = -1L
  val tasks, runMs, cpuNs, gcMs, shufRead, shufWrite, spill, inBytes =
    new AtomicLong(0L)

  def toMap: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "phase" -> phase, "start_ms" -> startMs,
    "end_ms" -> endMs, "stages" -> stages, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_read" -> shufRead.get, "shuffle_write" -> shufWrite.get,
    "spill" -> spill.get, "input_bytes" -> inBytes.get)
}

/** The benchmark's SparkListener. It records only while `on` is set, so an
  * untraced pass pays one volatile read per event.
  */
final class Probe extends SparkListener {
  @volatile var on = false
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val aqeUpdates = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      .getOrElse("")
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, e.stageIds.size)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
      case (j, m) =>
        j.tasks.incrementAndGet()
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.inBytes.addAndGet(m.inputMetrics.bytesRead)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate if on =>
      aqeUpdates.incrementAndGet()
    case _ =>
  }

  /** Records of finished jobs whose group starts with `prefix`; removes
    * them. Call after a drain.
    */
  def take(prefix: String): Seq[JobRec] = {
    val out = jobs.values.asScala.filter(_.group.startsWith(prefix)).toSeq
    out.foreach { j => jobs.remove(j.id) }
    stageJob.entrySet.removeIf(e => out.exists(_ eq e.getValue))
    out.sortBy(_.id)
  }
}
