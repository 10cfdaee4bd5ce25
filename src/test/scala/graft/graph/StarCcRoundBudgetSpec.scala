package graft.graph

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Budget of one StarCC fixpoint round under the benchmark's session conf
  * (AQE off, 4 shuffle partitions), with the broadcast threshold at -1 so
  * the graph takes the distributed rounds. A round is two checkpoint jobs:
  * largeStar's output, then smallStar's with the convergence certificate
  * observed in the same job. Should smallStar read an unmaterialized
  * largeStar again, each of its three reads re-runs largeStar's exchanges
  * (13 stages a round); a certificate run as its own job adds a third job.
  *
  * The graph is a 64-node chain, which needs more than two rounds, so one
  * round's cost is a run stopped by `maxIter = 2` minus one stopped by
  * `maxIter = 1`. It comes from an RDD, so like the benchmark's upstream
  * pipelines it has no small size estimate and the round's joins plan as
  * shuffles (a frame built from a local Seq of a few rows would plan
  * broadcast joins, each with a build job of its own).
  *
  * Under the benchmark's own 64 MB threshold the same chain fits the
  * budget and finishes on the driver: the edge checkpoint (which observes
  * the edge count) and the collect of its edges, two jobs in all. The
  * label frame's rows are written by tasks, so collecting it is one job
  * more. */
class StarCcRoundBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def chain = {
    import spark.implicits._
    spark.sparkContext.parallelize((1L until 64L).map(v => (v + 1, v)), 4)
      .toDF("src", "dst")
  }

  /** `StarCC.labels` stopped by the `maxIter` backstop after `rounds` */
  private def capped(rounds: Int): Unit = {
    val err = intercept[IllegalArgumentException](StarCC.labels(chain, maxIter = rounds))
    assert(err.getMessage.contains(s"fixpoint in $rounds rounds"), err.getMessage)
  }

  test("one StarCC round runs at most 2 jobs and 7 stages under the benchmark conf") {
    val distributed = JobBudget.benchConf :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    JobBudget.withConf(spark, distributed) {
      val (j1, s1, t1) = JobBudget.measure(spark, "starcc-budget-1")(capped(1))
      val (j2, s2, t2) = JobBudget.measure(spark, "starcc-budget-2")(capped(2))
      val (jobs, stages, tasks) = (j2 - j1, s2 - s1, t2 - t1)
      info(s"one round: $jobs jobs, $stages stages, $tasks tasks")
      assert(jobs <= 2, s"one round ran $jobs jobs")
      assert(stages <= 7, s"one round ran $stages stages ($tasks tasks)")
    }
  }

  test("a graph under the broadcast budget runs at most 2 jobs through labels") {
    JobBudget.withConf(spark, JobBudget.benchConf) {
      var out: org.apache.spark.sql.DataFrame = null
      val (jobs, stages, _) = JobBudget.measure(spark, "starcc-driver") {
        // maxIter = 1 would stop the rounds of a 64-node chain; the driver
        // finish never reaches them
        out = StarCC.labels(chain, maxIter = 1)
      }
      info(s"labels under the budget: $jobs jobs, $stages stages")
      assert(jobs <= 2, s"labels ran $jobs jobs")
      var labels = Map.empty[Long, Long]
      val (collectJobs, _, _) = JobBudget.measure(spark, "starcc-driver-collect") {
        labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(labels == (1L to 64L).map(_ -> 1L).toMap, "chain labels differ")
      assert(collectJobs == 1, s"collecting the labels ran $collectJobs jobs")
    }
  }
}
