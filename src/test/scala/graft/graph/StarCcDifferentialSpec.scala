package graft.graph

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.concurrent.{Await, Future, blocking}

/** StarCC against an in-test union-find on seeded random graphs and on the
  * shapes the fixpoint finds hardest: no edges at all, self-loops only,
  * duplicate and reversed edges, a long chain and a wide hub star. Every
  * graph runs through `labels` with `skewSafe` off and on and through
  * `labelsAuto`, each on both paths: the distributed rounds (broadcast
  * threshold -1) and the driver finish (every graph here fits the 10 MB
  * default). Each run must return exactly one `(node, root)` row per
  * vertex incident to a non-loop edge, rooted at its component's minimum
  * id. The empty and self-loop-only graphs leave every round empty, so the
  * convergence certificate observes a zero count and a NULL hash. A few
  * graphs also run with reliable checkpoints. Each path has a session of
  * its own, so a graph's six runs are independent and run at once. */
class StarCcDifferentialSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** min-root union-find over the non-loop edges: vertex → component min */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private lazy val paths = Seq("distributed" -> "-1", "driver" -> "10MB").map {
    case (path, threshold) =>
      val session = spark.newSession()
      session.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      path -> session
  }

  private def check(name: String, edges: Seq[(Long, Long)], reliable: Boolean = false): Unit = {
    val expected = unionFind(edges)
    val runs = for {
      (path, session) <- paths
      (mode, run) <- Seq[(String, DataFrame => DataFrame)](
        "labels" -> (StarCC.labels(_, reliable = reliable)),
        "labels(skewSafe)" -> (StarCC.labels(_, reliable = reliable, skewSafe = true)),
        "labelsAuto" -> (StarCC.labelsAuto(_, reliable = reliable)))
    } yield Future(blocking {
      import session.implicits._
      val out = run(edges.toDF("src", "dst"))
      // the driver finish returns its slices as one RDD leaf; the rounds
      // return a union
      val leaf = out.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD]
      (s"$name via $mode on the $path path", leaf == (path == "driver"),
        out.as[(Long, Long)].collect().toSeq)
    })
    for ((on, rightPath, rows) <- Await.result(Future.sequence(runs), 10.minutes)) {
      assert(rightPath, s"$on: took the other path")
      assert(rows.size == rows.map(_._1).distinct.size,
        s"$on: a vertex has more than one label row")
      assert(rows.toMap == expected, s"$on: labels differ from union-find")
    }
  }

  test("StarCC equals union-find on 20 seeded random graphs") {
    val rng = new scala.util.Random(20261017L)
    for (g <- 1 to 20) {
      val n = 2 + rng.nextInt(60)
      // sparse ids of both signs, so nothing leans on dense or positive ids
      val ids = Seq.fill(n)(rng.nextLong() % 1000000000000L).distinct
      val m = rng.nextInt(2 * n + 1)
      val edges = Seq.fill(m)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
      check(s"graph $g (${ids.size} ids, $m edges)", edges)
    }
  }

  test("StarCC on an empty edge list and on self-loops only returns no rows") {
    check("empty", Seq.empty)
    check("self-loops", Seq((1L, 1L), (7L, 7L), (7L, 7L)))
  }

  test("StarCC on duplicate and reversed edges") {
    check("duplicates", Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (3L, 3L),
      (10L, 11L), (11L, 10L), (11L, 10L)))
  }

  test("StarCC on a 64-node chain and a 100-leaf hub star") {
    check("chain", (1L until 64L).map(v => (v + 1, v)))
    check("hub star", (1L to 100L).map(v => (50L, v + 50)))
  }

  test("the driver finish's label frame plans like a local relation") {
    // a few thousand sparse ids from an RDD, under the benchmark conf
    val rng = new scala.util.Random(20261019L)
    val ids = Seq.fill(4000)(rng.nextLong() % 1000000000000L).distinct
    val edges = Seq.fill(3000)((ids(rng.nextInt(ids.size)), ids(rng.nextInt(ids.size))))
    val expected = unionFind(edges)
    JobBudget.withConf(spark, JobBudget.benchConf) {
      import spark.implicits._
      val lab = StarCC.labels(spark.sparkContext.parallelize(edges, 4).toDF("src", "dst"))
      val plan = lab.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LogicalRDD], s"took the rounds:\n$plan")
      assert(plan.stats.rowCount.contains(BigInt(expected.size)), plan.stats.toString)
      // joined against a table with no size estimate, the labels broadcast
      val nodes = spark.sparkContext.parallelize(expected.keys.toSeq, 4).toDF("node")
      val joined = nodes.join(lab, "node")
      assert(joined.queryExecution.executedPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        joined.queryExecution.executedPlan.toString)
      assert(joined.as[(Long, Long)].collect().toMap == expected)
      // graph04's certificate shape: each label row joined to its root's row
      val self = lab.as("v").join(lab.as("r"), col("v.root") === col("r.node"), "left")
        .select(col("v.node"), col("v.root"), col("r.root")).as[(Long, Long, Long)].collect()
      assert(self.length == expected.size)
      assert(self.map { case (v, r, _) => v -> r }.toMap == expected)
      assert(self.forall { case (_, r, rr) => rr == r }, "a root does not label itself")
    }
  }

  test("StarCC with reliable checkpoints, two per round, equals union-find") {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("starcc-ckpt").toString)
    check("reliable empty", Seq.empty, reliable = true)
    check("reliable chain", (1L until 64L).map(v => (v + 1, v)), reliable = true)
    check("reliable duplicates", Seq((3L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (5L, 4L)),
      reliable = true)
  }

  test("AQE skew-splits a skewSafe round's join on a hub graph, and no join without skewSafe") {
    // One vertex on 20% of the edges, on the rounds path (broadcast joins
    // off), with AQE on and the skew-join thresholds lowered to this
    // graph's size, as PlanShapeSpec's q54 test does. Without `reExchange`
    // the mins side's aggregate sits between its exchange and the join,
    // the shape AQE's skew-join rewrite does not match.
    val session = spark.newSession()
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.shuffle.partitions" -> "16").foreach { case (k, v) => session.conf.set(k, v) }
    val (n, vertices) = (200000L, 50000L)
    // src is pmod(id, 1), not lit(0): a literal alias under Union trips
    // Spark 4.1's constraint rewriting
    val hub = session.range(0, n / 5, 1, 4).select(pmod(col("id"), lit(1L)).as("src"),
      (pmod(xxhash64(col("id")), lit(vertices - 1)) + 1).as("dst"))
    val rest = session.range(0, n - n / 5, 1, 4).select(
      pmod(xxhash64(col("id"), lit("a")), lit(vertices)).as("src"),
      pmod(xxhash64(col("id"), lit("b")), lit(vertices)).as("dst"))
    val edges = hub.union(rest).where(col("src") =!= col("dst")).localCheckpoint()
    def finalPlan(skewSafe: Boolean): String =
      graft.obs.StageListener.measure(session, s"starcc-skew-$skewSafe") {
        StarCC.largeStar(edges, skewSafe).write.format("noop").mode("overwrite").save()
      }.planOutline
    val safe = finalPlan(skewSafe = true)
    assert(safe.contains("isFinalPlan=true") && safe.contains("skew=true"), safe)
    val plain = finalPlan(skewSafe = false)
    assert(plain.contains("isFinalPlan=true") && !plain.contains("skew=true"), plain)
  }
}
