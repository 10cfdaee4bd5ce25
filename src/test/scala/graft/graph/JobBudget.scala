package graft.graph

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** Counts the Spark jobs, stages and tasks a block of driver code runs,
  * for the per-round budget specs. */
object JobBudget {

  /** The benchmark's session conf: AQE off, 4 shuffle partitions, 64 MB
    * broadcast threshold. */
  val benchConf: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB")

  /** `body` under `conf`, with the session's earlier values restored */
  def withConf[T](spark: SparkSession, conf: Seq[(String, String)])(body: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (jobs, executed stages, tasks) of `body`, run in its own job group */
  def measure(spark: SparkSession, group: String)(body: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val marker = group + "-end"
    val stageGroup = mutable.HashMap.empty[Int, String]
    var jobs, stages, tasks = 0
    val markerSeen = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
        if (g == group) jobs += 1
        if (g == marker) markerSeen.set(true)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        if (stageGroup.get(e.stageInfo.stageId).contains(group)) {
          stages += 1
          tasks += e.stageInfo.numTasks
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later job's start is seen,
      // every event of `body` has been delivered
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen.get, "listener events did not arrive within 30 s")
    } finally sc.removeSparkListener(listener)
    listener.synchronized((jobs, stages, tasks))
  }
}
