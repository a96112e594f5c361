package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call of one op, timed from the benchmark side. */
final case class Span(op: String, layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work of one (op, layer): summed task metrics plus the wall
  * intervals of its jobs (listener clock, epoch ms).
  */
final class LayerWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Task times of one stage, for the max/median straggler signal. */
final class StageWork(val op: String, val layer: String) {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
}

/** Records spans around each call into a layer and, through its own
  * [[SparkListener]], sums the Spark work those calls start. A traced
  * call sets the job group `workload/layer` and the local property
  * [[Ledger.OpKey]] = op id; jobs without that property (warm-up,
  * output checks) are not counted.
  */
final class Ledger(sc: SparkContext, workload: String) extends SparkListener {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val work = mutable.HashMap.empty[(String, String), LayerWork]
  private val stageOwner = mutable.HashMap.empty[Int, (String, String)]
  private val jobOwner = mutable.HashMap.empty[Int, ((String, String), Long)]
  private val stages = mutable.HashMap.empty[Int, StageWork]

  sc.addSparkListener(this)

  /** Run `body` as the `layer` call of op `op`, recording its span. */
  def span[T](op: String, layer: String)(body: => T): T = {
    sc.setJobGroup(s"$workload/$layer", s"$op $layer")
    sc.setLocalProperty(Ledger.OpKey, op)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(op, layer, t0, System.nanoTime()))
      sc.setLocalProperty(Ledger.OpKey, null)
      sc.clearJobGroup()
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  def spansOf(op: String): Seq[Span] = spans.asScala.filter(_.op == op).toSeq

  def workOf(op: String): Map[String, LayerWork] = synchronized {
    work.collect { case ((o, layer), w) if o == op => layer -> w }.toMap
  }

  def stagesOf(op: String, layer: String): Seq[StageWork] = synchronized {
    stages.values.filter(s => s.op == op && s.layer == layer).toSeq
  }

  private def layerWork(key: (String, String)): LayerWork =
    work.getOrElseUpdate(key, new LayerWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    if (props != null) {
      val op = props.getProperty(Ledger.OpKey)
      val group = props.getProperty("spark.jobGroup.id")
      if (op != null && group != null && group.startsWith(workload + "/")) {
        val key = (op, group.stripPrefix(workload + "/"))
        layerWork(key).jobs += 1
        jobOwner(e.jobId) = (key, e.time)
        e.stageIds.foreach(s => stageOwner(s) = key)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (key, start) =>
      layerWork(key).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOwner.get(e.stageId).filter(_ => m != null).foreach { key =>
      val w = layerWork(key)
      val shW = m.shuffleWriteMetrics.bytesWritten
      val shR = m.shuffleReadMetrics.totalBytesRead
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += shW
      w.shuffleReadBytes += shR
      val s = stages.getOrElseUpdate(e.stageId, new StageWork(key._1, key._2))
      s.taskMs += e.taskInfo.duration
      s.shuffleWriteBytes += shW
      s.shuffleReadBytes += shR
    }
  }
}

object Ledger {
  val OpKey = "perfbench.op"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
