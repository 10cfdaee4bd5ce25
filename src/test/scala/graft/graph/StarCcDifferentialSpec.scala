package graft.graph

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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
      // the driver finish returns a local frame, the rounds never do
      val local = out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      (s"$name via $mode on the $path path", local == (path == "driver"),
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

  test("StarCC with reliable checkpoints, two per round, equals union-find") {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("starcc-ckpt").toString)
    check("reliable empty", Seq.empty, reliable = true)
    check("reliable chain", (1L until 64L).map(v => (v + 1, v)), reliable = true)
    check("reliable duplicates", Seq((3L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (5L, 4L)),
      reliable = true)
  }
}
