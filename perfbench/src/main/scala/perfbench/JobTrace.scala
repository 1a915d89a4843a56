package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** The benchmark's Spark listener: records the jobs, stages and tasks of
  * the traced repetitions, and turns them into job-layer metrics and spans.
  *
  * A job belongs to the repetition whose wall-clock window contains its
  * submission; the correctness reads between repetitions fall outside
  * every window and are ignored.
  */
final class JobTrace extends SparkListener {

  final case class JobRec(id: Int, submitMs: Long, var endMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, submitMs: Long, endMs: Long,
                            inputBytes: Long, outputBytes: Long, shuffleRead: Long, shuffleWrite: Long,
                            runMs: Long, cpuNs: Long, gcMs: Long)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, attempt: Int, ok: Boolean)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null && i.submissionTime.isDefined && i.completionTime.isDefined)
      stages += StageRec(i.stageId, i.submissionTime.get, i.completionTime.get,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = e.taskInfo
    tasks += TaskRec(e.stageId, t.launchTime, t.finishTime, t.attemptNumber, e.reason == Success)
  }

  /** A repetition's wall-clock window and its input turns. */
  final case class Rep(startMs: Long, endMs: Long, turns: Long)

  /** Which part of the extraction job a stage is, from what it read and
    * wrote: read + extract + shuffle write; shuffle read + sort + write;
    * re-read + lineage write. The SQL path's scan-and-evaluate stage counts
    * as an extract stage.
    */
  private def kind(s: StageRec): String =
    if (s.inputBytes > 0 && s.shuffleWrite > 0) "extract"
    else if (s.shuffleRead > 0 && s.outputBytes > 0) "write"
    else if (s.inputBytes > 0 && s.outputBytes > 0) "lineage"
    else "other"

  private def stagesOf(rep: Rep): Seq[StageRec] = {
    val ids = jobs.filter(j => j.submitMs >= rep.startMs && j.submitMs <= rep.endMs)
      .flatMap(_.stageIds).toSet
    stages.filter(s => ids.contains(s.id)).toSeq
  }

  /** Job-layer metrics of one repetition run on `executors` executors. */
  def metrics(rep: Rep, executors: Int): Map[String, Double] = synchronized {
    val ss = stagesOf(rep)
    val ids = ss.map(_.id).toSet
    val ts = tasks.filter(t => ids.contains(t.stage)).toSeq
    def stageS(k: String) = ss.filter(kind(_) == k).map(s => (s.endMs - s.submitMs) / 1000.0).sum
    val extractIds = ss.filter(kind(_) == "extract").map(_.id).toSet
    val extractTasks = ts.filter(t => t.ok && extractIds.contains(t.stage)).map(t => (t.finishMs - t.launchMs).toDouble)
    val runMs = ss.map(_.runMs).sum.toDouble
    val busyMs = ts.map(t => (t.finishMs - t.launchMs).toDouble).sum
    val wallMs = (rep.endMs - rep.startMs).toDouble
    Map(
      "job.extract_stage_s" -> stageS("extract"),
      "job.write_stage_s" -> stageS("write"),
      "job.lineage_stage_s" -> stageS("lineage"),
      "job.shuffle_bytes_per_turn" -> ss.map(_.shuffleWrite).sum.toDouble / rep.turns,
      "job.output_bytes_per_turn" -> ss.map(_.outputBytes).sum.toDouble / rep.turns,
      "job.task_skew" -> (if (extractTasks.isEmpty) 0.0 else extractTasks.max / Stats.median(extractTasks)),
      "job.executor_idle_share" -> (1.0 - busyMs / (executors * wallMs)),
      "job.task_retries" -> ts.count(t => t.attempt > 0 || !t.ok).toDouble,
      "job.gc_share" -> (if (runMs > 0) ss.map(_.gcMs).sum / runMs else 0.0),
      "job.cpu_share" -> (if (runMs > 0) ss.map(_.cpuNs).sum / 1e6 / runMs else 0.0),
      "job.task_run_ms" -> runMs)
  }

  /** Adds the jobs, stages and tasks of `rep` as spans under `parent`. */
  def addSpans(log: Spans, parent: Int, rep: Rep): Unit = synchronized {
    val inRep = jobs.filter(j => j.submitMs >= rep.startMs && j.submitMs <= rep.endMs)
    inRep.foreach { j =>
      val js = log.add(s"spark.job.${j.id}", parent, j.submitMs * 1000, math.max(j.endMs, j.submitMs) * 1000)
      stages.filter(s => j.stageIds.contains(s.id)).foreach { s =>
        val ss = log.add(s"spark.stage.${s.id}.${kind(s)}", js, s.submitMs * 1000, s.endMs * 1000)
        tasks.filter(_.stage == s.id).foreach { t =>
          log.add(s"spark.task.${s.id}", ss, t.launchMs * 1000, t.finishMs * 1000)
        }
      }
    }
  }
}
