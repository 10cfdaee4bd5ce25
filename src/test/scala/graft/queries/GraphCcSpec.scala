package graft.queries

import graft.TestSpark
import graft.graph.{GraphOps, JobBudget, StarCC}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Closes graph04's one certificate blind spot (ADVICE r13): the fixpoint
  * certificate proves the StarCC labeling is no FINER than connectivity
  * (n_cross_edges = 0) and well-anchored, but an over-MERGED labeling (two
  * true components sharing one label) would pass all three checks — its
  * soundness rested on the prose argument that edge-local propagation
  * cannot over-merge. This spec anchors that argument empirically: at
  * sf0.001 an independent in-JVM union-find over the identical edge list
  * must produce the SAME partition as GraphX connectedComponents and as
  * StarCC on both of its paths — equal component count AND identical
  * co-membership (same label ⟺ same root). GraphX lives only in test
  * scope, as the independent reference. The recompute is only feasible at
  * test scale; at sf1/sf10 the certificate carries the guarantee, pinned
  * here against this baseline.
  */
class GraphCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** GraphX `connectedComponents()` labels of an undirected edge list */
  private def graphxLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = spark.sparkContext.parallelize(pairs).flatMap { case (a, b) =>
      Seq(org.apache.spark.graphx.Edge(a, b, 1),
        org.apache.spark.graphx.Edge(b, a, 1))
    }
    org.apache.spark.graphx.Graph.fromEdges(edges, 0)
      .connectedComponents().vertices.collect().toMap
  }

  /** StarCC labels of `edges` on the distributed rounds (broadcast
    * threshold -1) and on the driver finish (the 10 MB default), by path */
  private def starLabels(edges: DataFrame): Seq[(String, Map[Long, Long])] =
    Seq("distributed" -> "-1", "driver" -> "10MB").map { case (path, threshold) =>
      JobBudget.withConf(spark, Seq("spark.sql.autoBroadcastJoinThreshold" -> threshold)) {
        path -> StarCC.labels(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }

  test("GraphX CC partition equals union-find partition at sf0.001") {
    val pairsDf = GraphOps.coPurchasePairs(spark, sf).select("src", "dst")
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "co-purchase projection is empty at sf0.001")

    // independent recompute: path-compressing union-find over the edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ufLabel: Map[Long, Long] = parent.keys.map(v => v -> find(v)).toMap

    val gxLabel = graphxLabels(pairs.toSeq)
    assert(gxLabel.keySet == ufLabel.keySet, "vertex sets differ")
    val gxComponents = gxLabel.values.toSet.size
    val ufComponents = ufLabel.values.toSet.size
    assert(gxComponents == ufComponents,
      s"component count: GraphX $gxComponents vs union-find $ufComponents")
    // co-membership must agree vertex-by-vertex: GraphX anchors labels at
    // the component-min vertex id, and so does min-root union by rank above
    assert(gxLabel == ufLabel,
      "GraphX labeling diverges from the union-find partition")
    // graph04's kernel over the same edge list
    for ((path, star) <- starLabels(pairsDf))
      assert(star == ufLabel, s"StarCC ($path) diverges from the union-find partition")
  }

  // graph09 and dd09 both label dd09's minhash-LSH edge set with StarCC;
  // GraphX CC on the same edge set is the independent reference (DuckDB's
  // recursive CTE is the gate oracle for both queries).
  test("alternating-star CC (graph09) equals GraphX CC (dd09) at sf0.001") {
    val edges = TextDedup.minhashBandPairs(TextDedup.docsBounded(spark, sf, 200),
        broadcastBands = true)
      .select(col("ida").as("src"), col("idb").as("dst"))
    val gx = graphxLabels(edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(gx.nonEmpty, "dd09's edge set is empty at sf0.001")
    for ((path, star) <- starLabels(edges))
      assert(star == gx, s"StarCC ($path) labels diverge from GraphX CC on dd09's edge set")
  }

  test("alternating-star CC handles a chain + isolated-pair topology") {
    // hand graph: chain 5-4-3-2-1 (reverse-oriented edges), pair (10,11),
    // star (20,21) — StarCC.labels must root every chain node at 1.
    import spark.implicits._
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (20L, 21L))
      .toDF("src", "dst")
    val got = graft.graph.StarCC.labels(e0).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)),
      s"star labels wrong: $got")
  }

  test("FrontierBfs: min-depths on a hand graph match first principles (r18)") {
    import spark.implicits._
    // path 0-1-2-3, branch 1-10, isolated pair (20,21), plus a shortcut
    // 0-3 that must WIN over the path (min-depth, not any-depth)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 10L), (20L, 21L), (0L, 3L))
      .toDF("src", "dst")
    val got = graft.graph.FrontierBfs.depths(e, source = 0L)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 10L -> 2),
      s"bfs depths wrong: $got") // 20/21 unreachable: absent, not depth-labeled
  }

  test("skewDecision: hub graph -> barrier, uniform chain -> default (r18)") {
    import spark.implicits._
    // star: vertex 0 carries every edge — endpoint share 1/2 > 2%
    val star = (1L to 100L).map(v => (0L, v)).toDF("src", "dst")
    assert(graft.graph.StarCC.skewDecision(star),
      "skewDecision declined the barrier on a pure star")
    // path: every vertex has degree <= 2 — share 2/200 = 1%, below 2%
    val path = (1L until 100L).map(v => (v, v + 1)).toDF("src", "dst")
    assert(!graft.graph.StarCC.skewDecision(path),
      "skewDecision picked the barrier on a uniform path")
    // labelsAuto must label exactly like labels on both topologies
    val viaAuto = graft.graph.StarCC.labelsAuto(star).as[(Long, Long)].collect().toSet
    val viaFlag = graft.graph.StarCC.labels(star, skewSafe = true)
      .as[(Long, Long)].collect().toSet
    assert(viaAuto == viaFlag, "labelsAuto diverges from labels on the star")
  }

  test("graph15's integer PageRank equals GraphX staticPageRank at sf0.001") {
    // the same symmetrized cust%4 co-purchase graph on both sides; GraphX's
    // sum-to-N ranks rescaled by the fixed-point init (base / n)
    import spark.implicits._
    val ranks = GraphQueries.integerPageRank(spark, sf, custMod = 4)
      .as[(Long, Long)].collect().toMap
    assert(ranks.nonEmpty, "the cust%4 co-purchase graph is empty at sf0.001")
    val pairs = GraphOps.coPurchasePairs(spark, sf, custMod = 4).select("src", "dst")
      .as[(Long, Long)].collect().toSeq
    val edges = spark.sparkContext.parallelize(pairs).flatMap { case (a, b) =>
      Seq(org.apache.spark.graphx.Edge(a, b, 1), org.apache.spark.graphx.Edge(b, a, 1))
    }
    val gx = org.apache.spark.graphx.Graph.fromEdges(edges, 0)
      .staticPageRank(3, resetProb = 0.15).vertices.collect().toMap
    assert(ranks.keySet == gx.keySet, "node sets differ")
    val init = (1000000000000L / ranks.size).toDouble
    val maxDev = ranks.map { case (v, pr) => math.abs(pr / init - gx(v)) / gx(v) }.max
    assert(maxDev < 1e-4, s"rank vectors differ: max relative deviation $maxDev")
  }
}
