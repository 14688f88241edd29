package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark work tallied per job group. The benchmark sets a job group
  * before each call it makes into the program, so every job, stage and
  * task that call starts lands in that call's [[GroupListener.Tally]].
  *
  * Lives under `org.apache.spark` only to reach the listener bus's
  * `waitUntilEmpty`: events are delivered asynchronously, and a tally is
  * complete only once the bus has drained. */
final class GroupListener extends SparkListener {
  import GroupListener.Tally

  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def tally(group: String): Tally = tallies.computeIfAbsent(group, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    tally(group).synchronized { tally(group).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val group = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    val t = tally(group)
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = tally(stageGroup.getOrDefault(e.stageId, ""))
    t.synchronized {
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The tally of `group` (empty if the group ran no job). */
  def get(group: String): Tally = Option(tallies.get(group)).getOrElse(new Tally)

  /** The tallies of every group whose name starts with `prefix`, merged. */
  def sumPrefix(prefix: String): Tally = {
    val out = new Tally
    tallies.forEach((g, t) => if (g.startsWith(prefix)) out.add(t))
    out
  }
}

object GroupListener {
  final class Tally {
    var jobs, stages, tasks: Long = 0L
    var taskMs, cpuNs, gcMs: Long = 0L
    var shuffleWriteBytes, shuffleWriteRecords, spillBytes: Long = 0L

    def add(o: Tally): Unit = o.synchronized {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
      spillBytes += o.spillBytes
    }
  }
}
