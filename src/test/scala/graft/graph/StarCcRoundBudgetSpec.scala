package graft.graph

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** Budget of one StarCC fixpoint round under the benchmark's session conf
  * (AQE off, 4 shuffle partitions, 64 MB broadcast threshold). A round is
  * two checkpoint jobs: largeStar's output, then smallStar's with the
  * convergence certificate observed in the same job. Should smallStar read
  * an unmaterialized largeStar again, each of its three reads re-runs
  * largeStar's exchanges (13 stages a round); a certificate run as its own
  * job adds a third job.
  *
  * The graph is a 64-node chain, which needs more than two rounds, so one
  * round's cost is a run stopped by `maxIter = 2` minus one stopped by
  * `maxIter = 1`. It comes from an RDD, so like the benchmark's upstream
  * pipelines it has no small size estimate and the round's joins plan as
  * shuffles (a frame built from a local Seq of a few rows would plan
  * broadcast joins, each with a build job of its own). */
class StarCcRoundBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val benchConf = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB")

  /** (jobs, executed stages, tasks) of `body`, run in its own job group */
  private def measure(group: String)(body: => Unit): (Int, Int, Int) = {
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

  /** `StarCC.labels` stopped by the `maxIter` backstop after `rounds` */
  private def capped(rounds: Int): Unit = {
    import spark.implicits._
    val chain = spark.sparkContext.parallelize((1L until 64L).map(v => (v + 1, v)), 4)
      .toDF("src", "dst")
    val err = intercept[IllegalArgumentException](StarCC.labels(chain, maxIter = rounds))
    assert(err.getMessage.contains(s"fixpoint in $rounds rounds"), err.getMessage)
  }

  test("one StarCC round runs at most 2 jobs and 7 stages under the benchmark conf") {
    val saved = benchConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    benchConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (j1, s1, t1) = measure("starcc-budget-1")(capped(1))
      val (j2, s2, t2) = measure("starcc-budget-2")(capped(2))
      val (jobs, stages, tasks) = (j2 - j1, s2 - s1, t2 - t1)
      info(s"one round: $jobs jobs, $stages stages, $tasks tasks")
      assert(jobs <= 2, s"one round ran $jobs jobs")
      assert(stages <= 7, s"one round ran $stages stages ($tasks tasks)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
