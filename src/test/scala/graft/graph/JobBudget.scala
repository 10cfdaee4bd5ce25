package graft.graph

import org.apache.spark.sql.SparkSession

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
    val s = graft.obs.StageListener.measure(spark, group)(body)
    (s.jobs, s.stages, s.tasks.toInt)
  }
}
