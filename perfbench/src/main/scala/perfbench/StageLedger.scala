package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Stage-level task metrics credited to the tag that the submitting thread
  * set as a local property before the stage's job was submitted. The tag is
  * read from the submission event's own properties, so a stage that
  * completes after the driver has moved on is still credited to the work
  * that started it. Totals are read only after the listener bus drained. */
final class StageLedger(sc: SparkContext) extends SparkListener {
  import StageLedger._

  private val stageTag = mutable.HashMap.empty[Int, String]
  private val taskRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobs = mutable.LinkedHashMap.empty[String, Int]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]

  sc.addSparkListener(this)

  private def tagOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse(Untagged)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tagOf(e.properties)
    jobs(t) = jobs.getOrElse(t, 0) + 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful && e.taskMetrics != null)
      taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages += Map[String, Any](
      "tag" -> stageTag.getOrElse(si.stageId, Untagged),
      "stage_id" -> si.stageId,
      "tasks" -> si.numTasks,
      "wall_ms" -> (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L),
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_write_time_ns" -> m.shuffleWriteMetrics.writeTime,
      "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "task_run_ms" -> taskRunMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
  }

  /** Stage rows and per-tag job counts; call after the work is done. */
  def snapshot(): (Seq[Map[String, Any]], Map[String, Int]) = {
    org.apache.spark.perfbench.BusDrain(sc)
    synchronized((stages.toSeq, jobs.toMap))
  }

  def close(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(this)
  }
}

object StageLedger {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"

  /** Runs `f` with every job it submits tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f
    finally sc.setLocalProperty(TagKey, prev)
  }
}
