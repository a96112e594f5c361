package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code ran on Spark: its jobs, per job the
  * stages that actually ran (skipped stages — e.g. the shuffle behind a
  * persisted RDD — are never submitted), the tasks of those stages and
  * the shuffle bytes its tasks read and wrote, and how many SQL
  * executions started.
  */
final case class JobTally(jobs: Seq[JobTally.Job], sqlExecutions: Int) {
  /** jobs whose stages read the RDD named `rdd` */
  def jobsOn(rdd: String): Seq[JobTally.Job] = jobs.filter(_.rdds.contains(rdd))
}

object JobTally {
  final case class Job(id: Int, rdds: Set[String], stagesRun: Int, tasks: Int,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** run `body` and tally every job and SQL execution it started */
  def of[T](spark: SparkSession)(body: => T): (T, JobTally) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val submitted = new ConcurrentLinkedQueue[Int]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val sql = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet()
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val out = try { val r = body; ListenerDrain(sc); r }
              finally sc.removeSparkListener(listener)
    val ran = submitted.asScala.toSet
    val taskList = tasks.asScala.toSeq
    val jobs = starts.asScala.toSeq.sortBy(_.jobId).map { j =>
      val stages = j.stageIds.toSet
      val mine = taskList.filter(t => stages.contains(t.stageId) && t.taskMetrics != null)
      Job(j.jobId, j.stageInfos.flatMap(_.rddInfos.map(_.name)).toSet,
        stages.count(ran.contains),
        j.stageInfos.filter(s => ran.contains(s.stageId)).map(_.numTasks).sum,
        mine.map(_.taskMetrics.shuffleReadMetrics.totalBytesRead).sum,
        mine.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum)
    }
    (out, JobTally(jobs, sql.get))
  }
}
