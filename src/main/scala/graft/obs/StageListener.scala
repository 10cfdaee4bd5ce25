package graft.obs

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark task metrics summed for one job group. Times are in seconds,
  * sizes in bytes. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var scanTasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  /** disk bytes spilled */
  var spill = 0L
  var memSpill = 0L
  var maxTaskS = 0.0
  var sqlExecutions = 0
  /** (submitted, completed) epoch-millisecond intervals of its stages. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (jobId, start, end) epoch-millisecond intervals of its jobs. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  /** The latest plan each of its SQL executions reported, by execution id:
    * once an execution has ended, its executed plan, with every adaptive
    * stage in its final form. */
  val plans = mutable.TreeMap.empty[Long, SparkPlanInfo]

  /** `plans`, one node per indented line, without the expression ids,
    * plan ids, object hashes and observation UUIDs that differ from run
    * to run. */
  def planOutline: String = {
    val b = new StringBuilder
    def walk(p: SparkPlanInfo, depth: Int): Unit = {
      b ++= "  " * depth ++= p.simpleString
        .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id")
        .replaceAll("@[0-9a-f]+", "@")
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "uuid") += '\n'
      p.children.foreach(walk(_, depth + 1))
    }
    plans.values.foreach(walk(_, 0))
    b.toString
  }

  /** A short hash of `planOutline`: equal plans, equal fingerprints. */
  def planFingerprint: String = f"${MurmurHash3.stringHash(planOutline)}%08x"
}

/** Attributes every task, stage, job and SQL execution to the job group
  * that ran it, so a caller that tags each piece of work with a group of
  * its own reads that work's counters. Events arrive asynchronously on
  * Spark's listener bus: read a group through [[measure]] or after
  * [[drain]], never straight after the work returns. */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val executionGroup = mutable.HashMap.empty[Long, String]
  private val scanStages = mutable.HashSet.empty[Int]
  private val pending = mutable.HashSet.empty[String]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]

  /** a marker job's counters are dropped */
  private def stats(g: String): GroupStats =
    if (g.startsWith(StageListener.marker)) new GroupStats
    else groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup(e.jobId) = (g, e.time)
    stats(g).jobs += 1
    e.stageInfos.foreach { s =>
      stageGroup.getOrElseUpdate(s.stageId, g)
      if (s.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages += s.stageId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      stats(g).jobIntervals += ((e.jobId, start, e.time))
      if (pending.remove(g)) notifyAll()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageGroup.getOrElse(info.stageId, "-"))
    s.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime) s.stageIntervals += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    if (scanStages.contains(e.stageId)) s.scanTasks += 1
    s.maxTaskS = math.max(s.maxTaskS, e.taskInfo.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      s.runS += m.executorRunTime / 1e3
      s.cpuS += m.executorCpuTime / 1e9
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.memSpill += m.memoryBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      val g = x.jobGroupId.getOrElse("-")
      executionGroup(x.executionId) = g
      val s = stats(g)
      s.sqlExecutions += 1
      s.plans(x.executionId) = x.sparkPlanInfo
    }
    case x: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      executionGroup.get(x.executionId).foreach(g => stats(g).plans(x.executionId) = x.sparkPlanInfo)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized(executionGroup.remove(x.executionId))
    case _ =>
  }

  /** Runs one job in a marker group and waits until this listener has seen
    * it end. The bus delivers events in order, so by then every event
    * posted before the marker job, all of the caller's earlier work
    * included, has been delivered. */
  def drain(sc: SparkContext): Unit = {
    val marker = StageListener.marker + StageListener.markers.incrementAndGet()
    synchronized(pending += marker)
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    synchronized {
      while (pending(marker) && System.nanoTime() < deadline) wait(20)
      if (pending.remove(marker))
        throw new IllegalStateException("listener events did not arrive within 30 s")
    }
  }

  /** Runs `body` in job group `group` and returns the group's counters once
    * they have drained; the listener forgets the group. */
  def measure(sc: SparkContext, group: String)(body: => Unit): GroupStats = {
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    drain(sc)
    synchronized(groups.remove(group)).getOrElse(new GroupStats)
  }
}

object StageListener {
  private val marker = "graft.obs.drain-"
  private val markers = new java.util.concurrent.atomic.AtomicLong

  /** [[StageListener.measure]] through a listener registered for this
    * call only. */
  def measure(spark: SparkSession, group: String)(body: => Unit): GroupStats = {
    val sc = spark.sparkContext
    val listener = new StageListener
    sc.addSparkListener(listener)
    try listener.measure(sc, group)(body) finally sc.removeSparkListener(listener)
  }
}
