package graft.tools

import graft.{Bench, SparkEntry}
import graft.graph.JobBudget
import graft.obs.{GroupStats, StageListener}

/** A/B measurement of two query variants in interleaved pairs.
  *
  * {{{
  * Test/runMain graft.tools.Probe <corpus dir> <pairs> <variant A> <variant B>
  * }}}
  *
  * A variant is a `SparkEntry` query name, optionally followed by
  * comma-separated `key=value` runtime conf overrides, e.g.
  * `q01_agg_pricing,spark.sql.autoBroadcastJoinThreshold=-1`. Both run in
  * Bench's session (`Bench.session` and `Bench.tuneFor` for the corpus), as
  * Bench runs a query: built by graft's own query code and written to the
  * noop sink. Each variant's overrides are set for its run only.
  *
  * After one untimed warm-up run of each variant, every pair runs both
  * variants, and the side that runs first alternates from pair to pair.
  * Each run prints its wall time, jobs, stages, tasks, executor CPU,
  * shuffle-write and disk-spill bytes, the host's steal jiffies over the
  * run, and a fingerprint of the final executed plan of the run itself, as
  * the run's SQL executions reported it (`GroupStats.planFingerprint`).
  * Then, per variant: min and median wall, n, and the pairs it won; the
  * median of the per-pair B/A wall ratios; and each distinct plan once.
  */
object Probe {
  private final case class Variant(label: String, query: String, conf: Seq[(String, String)])
  private final case class Run(pair: Int, v: Variant, wallS: Double, steal: Long, s: GroupStats)

  private def parse(label: String, arg: String): Variant = {
    val parts = arg.split(',').toSeq
    val conf = parts.tail.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"variant $label: conf override '$kv' is not key=value")
      kv.take(i) -> kv.drop(i + 1)
    }
    require(SparkEntry.queries.contains(parts.head), s"variant $label: no query '${parts.head}'")
    Variant(label, parts.head, conf)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Probe <corpus dir> <pairs> <variant A> <variant B>")
    val dir = args(0)
    val pairs = args(1).toInt
    val variants = Seq(parse("A", args(2)), parse("B", args(3)))
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    Bench.tuneFor(spark, Bench.corpusBytes(dir), Bench.cpus)
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val query = SparkEntry.queries

    def run(v: Variant, pair: Int): Run = JobBudget.withConf(spark, v.conf) {
      var wall = 0.0
      var steal = -1L
      val s = listener.measure(spark.sparkContext, s"probe-$pair-${v.label}") {
        val steal0 = Bench.stealJiffies()
        val t0 = System.nanoTime()
        query(v.query)(spark, dir).write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - t0) / 1e9
        val steal1 = Bench.stealJiffies()
        if (steal0 >= 0 && steal1 >= 0) steal = steal1 - steal0
      }
      Run(pair, v, wall, steal, s)
    }

    for (v <- variants)
      println(s"${v.label}: ${(v.query +: v.conf.map { case (k, x) => s"$k=$x" }).mkString(" ")}")
    variants.foreach(run(_, 0)) // warm-up: JIT, codegen, footer caches
    val runs = (1 to pairs).flatMap { p =>
      val order = if (p % 2 == 1) variants else variants.reverse
      order.zipWithIndex.map { case (v, i) =>
        val r = run(v, p)
        val s = r.s
        println(f"pair $p%2d ${v.label} ${if (i == 0) "first " else "second"} " +
          f"wall ${r.wallS}%7.3f s  jobs ${s.jobs}%3d  stages ${s.stages}%3d  " +
          f"tasks ${s.tasks}%5d  cpu ${s.cpuS}%7.3f s  shuffle ${s.shuffleWrite}%10d B  " +
          f"spill ${s.spill}%10d B  steal ${r.steal}%4d  plan ${s.planFingerprint}")
        r
      }
    }

    val byPair = runs.groupBy(_.pair).values.map(_.map(r => r.v.label -> r.wallS).toMap)
    for (v <- variants) {
      val walls = runs.filter(_.v == v).map(_.wallS)
      val other = variants.filterNot(_ == v).head.label
      val wins = byPair.count(w => w(v.label) < w(other))
      println(f"${v.label}: min ${walls.min}%.3f s  median ${median(walls)}%.3f s  " +
        s"n ${walls.size}  wins $wins/$pairs")
    }
    val ratio = median(byPair.map(w => w("B") / w("A")).toSeq)
    println(f"median per-pair B/A wall ratio $ratio%.3f")
    for ((fp, rs) <- runs.groupBy(_.s.planFingerprint)) {
      println(s"--- plan $fp (${rs.map(_.v.label).distinct.sorted.mkString("/")}) ---")
      print(rs.head.s.planOutline)
    }
    spark.stop()
  }
}
