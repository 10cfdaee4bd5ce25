package graft.obs

import graft.TestSpark
import graft.graph.{FrontierBfs, JobBudget, StarCC}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.concurrent.{Await, Future, blocking}

/** `graft.obs.StageListener`: per-group attribution of concurrent work,
  * task metrics of a query with an exchange, the marker-job drain behind
  * `measure`, and the per-round budgets the graph specs read through it. */
class ObsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  test("two job groups run at once, each in its own scheduler pool, are attributed apart") {
    val listener = new StageListener
    sc.addSparkListener(listener)
    // each worker thread sets its own pool, as Verify's workers do
    def worker(group: String)(body: => Unit): Future[GroupStats] = Future(blocking {
      sc.setLocalProperty("spark.scheduler.pool", s"pool-$group")
      try listener.measure(sc, group)(body)
      finally sc.setLocalProperty("spark.scheduler.pool", null)
    })
    try {
      // the SQL group's job runs while the RDD group's first job holds its
      // tasks: each side waits for the other through ObsSpec's latches
      val rdd = worker("obs-rdd") {
        sc.parallelize(1 to 2, 2).map { x =>
          ObsSpec.rddRunning.countDown()
          ObsSpec.sqlDone.await(60, TimeUnit.SECONDS)
          x
        }.count()
        for (_ <- 1 to 2) sc.parallelize(1 to 2, 2).count()
      }
      val sql = worker("obs-sql") {
        ObsSpec.rddRunning.await(60, TimeUnit.SECONDS)
        spark.range(0, 20000, 1, 3).groupBy((col("id") % 7).as("k")).count()
          .write.format("noop").mode("overwrite").save()
        ObsSpec.sqlDone.countDown()
      }
      val (a, b) = Await.result(rdd.zip(sql), 2.minutes)
      assert((a.jobs, a.stages, a.tasks) == ((3, 3, 6L)))
      assert(a.sqlExecutions == 0 && a.shuffleWrite == 0 && a.plans.isEmpty)
      assert(b.jobs >= 1 && b.sqlExecutions == 1 && b.shuffleWrite > 0)
      assert(b.planOutline.contains("Exchange"), b.planOutline)
      // the two groups' jobs overlapped in time
      def span(s: GroupStats) = (s.jobIntervals.map(_._2).min, s.jobIntervals.map(_._3).max)
      val ((a0, a1), (b0, b1)) = (span(a), span(b))
      assert(a0 < b1 && b0 < a1, s"not concurrent: $a0-$a1 vs $b0-$b1")
      assert(!listener.groups.contains("obs-rdd") && !listener.groups.contains("obs-sql"))
    } finally sc.removeSparkListener(listener)
  }

  test("a query with an exchange reports executor CPU and shuffle bytes") {
    val s = StageListener.measure(spark, "obs-exchange") {
      spark.range(0, 200000, 1, 4).groupBy((col("id") % 1000).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(s.cpuS > 0, s"executor CPU ${s.cpuS}")
    assert(s.shuffleWrite > 0 && s.shuffleRead > 0, s"shuffle ${s.shuffleWrite}/${s.shuffleRead}")
    assert(s.stages >= 2 && s.tasks >= 5, s"${s.stages} stages, ${s.tasks} tasks")
    assert(s.planFingerprint.length == 8)
  }

  test("measure returns only after its marker job's events have drained") {
    // an earlier listener on the same bus is held busy, so every event,
    // the body's included, waits behind it
    val blocker = new StageListener
    val listener = new StageListener
    sc.addSparkListener(blocker)
    sc.addSparkListener(listener)
    val held = new CountDownLatch(1)
    val holdMs = 1500L
    val holder = Future(blocking(blocker.synchronized { held.countDown(); Thread.sleep(holdMs) }))
    try {
      held.await()
      val t0 = System.nanoTime()
      var seenByBody = -1
      val s = listener.measure(sc, "obs-drain") {
        sc.parallelize(1 to 8, 4).count()
        seenByBody = listener.synchronized(listener.groups.get("obs-drain").map(_.jobs).getOrElse(0))
      }
      val waitedMs = (System.nanoTime() - t0) / 1000000
      assert(seenByBody == 0, "the bus was not held: the job's events arrived at once")
      assert((s.jobs, s.stages, s.tasks) == ((1, 1, 4L)))
      assert(waitedMs >= holdMs / 2, s"measure returned after $waitedMs ms")
      Await.result(holder, 1.minute)
    } finally { sc.removeSparkListener(listener); sc.removeSparkListener(blocker) }
  }

  test("a StarCC round reads 2 jobs and 7 stages, a FrontierBfs round 2 jobs") {
    import spark.implicits._
    def chain(n: Long, down: Boolean) = spark.sparkContext
      .parallelize((0L until n - 1).map(v => if (down) (v + 1, v) else (v, v + 1)), 4)
      .toDF("src", "dst")
    def starRounds(rounds: Int): GroupStats = StageListener.measure(spark, s"obs-star-$rounds") {
      val err = intercept[IllegalArgumentException](StarCC.labels(chain(64, down = true),
        maxIter = rounds))
      assert(err.getMessage.contains(s"fixpoint in $rounds rounds"), err.getMessage)
    }
    def walk(n: Long): GroupStats = StageListener.measure(spark, s"obs-bfs-$n") {
      assert(FrontierBfs.depths(chain(n, down = false), source = 0L).count() == n)
    }
    JobBudget.withConf(spark, JobBudget.benchConf :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val (one, two) = (starRounds(1), starRounds(2))
      assert((two.jobs - one.jobs, two.stages - one.stages) == ((2, 7)))
    }
    JobBudget.withConf(spark, JobBudget.benchConf) {
      assert(walk(9).jobs - walk(8).jobs == 2)
    }
  }
}

object ObsSpec {
  // reached from task closures through the object, so tasks and the test
  // share one instance in the local JVM
  val rddRunning = new CountDownLatch(1)
  val sqlDone = new CountDownLatch(1)
}
