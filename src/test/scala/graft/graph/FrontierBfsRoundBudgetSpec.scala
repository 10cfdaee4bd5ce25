package graft.graph

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Budget of one FrontierBfs round under the benchmark's session conf: the
  * frontier's checkpoint job, with the frontier's size observed inside it,
  * then the settled union's checkpoint. A frontier count run as its own
  * job adds a third.
  *
  * The graph is a chain walked from one end, so the walk takes one round
  * per vertex plus the round that finds the frontier empty; one round's
  * cost is the walk of a 9-vertex chain minus that of an 8-vertex chain.
  * The chain comes from an RDD so that its joins plan as shuffles (see
  * StarCcRoundBudgetSpec). */
class FrontierBfsRoundBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def walk(vertices: Long): Unit = {
    import spark.implicits._
    val chain = spark.sparkContext.parallelize((0L until vertices - 1).map(v => (v, v + 1)), 4)
      .toDF("src", "dst")
    val depths = FrontierBfs.depths(chain, source = 0L).as[(Long, Int)].collect().toMap
    assert(depths == (0L until vertices).map(v => v -> v.toInt).toMap, "chain depths differ")
  }

  test("one FrontierBfs round runs at most 2 jobs under the benchmark conf") {
    JobBudget.withConf(spark, JobBudget.benchConf) {
      val (j8, s8, _) = JobBudget.measure(spark, "bfs-budget-8")(walk(8))
      val (j9, s9, _) = JobBudget.measure(spark, "bfs-budget-9")(walk(9))
      val (jobs, stages) = (j9 - j8, s9 - s8)
      info(s"one round: $jobs jobs, $stages stages")
      assert(jobs <= 2, s"one round ran $jobs jobs")
    }
  }
}
