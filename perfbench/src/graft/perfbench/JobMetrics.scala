package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per-job-group Spark totals, summed from task and stage events. */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
}

/** SparkListener keyed by job group (the benchmark sets the group to the
  * workload phase or the operator entry before each call). Events arrive
  * on the listener bus thread; readers drain the bus first. */
final class JobMetrics extends SparkListener {
  private val groupOfStage = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, GroupTotals]()

  private def of(group: String): GroupTotals = totals.getOrElseUpdate(group, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    e.stageIds.foreach(groupOfStage(_) = group)
    of(group).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    groupOfStage.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    groupOfStage.get(e.stageId).foreach { g =>
      val t = of(g)
      t.tasks += 1
      if (m != null) {
        t.executorCpuNs += m.executorCpuTime
        t.executorRunMs += m.executorRunTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExecMemBytes = math.max(t.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Sum of the totals of every group accepted by `p`. */
  def sum(p: String => Boolean): GroupTotals = synchronized {
    val s = new GroupTotals
    totals.foreach { case (g, t) => if (p(g)) {
      s.jobs += t.jobs; s.stages += t.stages; s.tasks += t.tasks
      s.executorCpuNs += t.executorCpuNs; s.executorRunMs += t.executorRunMs
      s.shuffleReadBytes += t.shuffleReadBytes; s.shuffleWriteBytes += t.shuffleWriteBytes
      s.spillBytes += t.spillBytes
      s.peakExecMemBytes = math.max(s.peakExecMemBytes, t.peakExecMemBytes)
    } }
    s
  }

  def reset(): Unit = synchronized { totals.clear() }
}
