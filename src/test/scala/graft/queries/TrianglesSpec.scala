package graft.queries

import graft.TestSpark
import graft.graph.{GraphOps, Triangles}
import org.scalatest.funsuite.AnyFunSuite

/** graph13's kernel: the degree-ordered wedge join must count exactly —
  * hand graphs with closed-form counts, robustness to dirty input
  * (duplicates / reversed orientation / self-loops), and agreement with
  * GraphX `triangleCount()`, run here in test scope as an independent
  * reference, on the real co-purchase projection (the same pairing
  * graph05 gates against DuckDB's triple-join, closing the three-way
  * check for triangles the way GraphCcSpec does for CC). */
class TrianglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def df(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("closed forms: K4, K5, cycle, path, two shared-edge triangles") {
    // complete graph Kn has C(n,3) triangles
    def kn(n: Int) = for {
      i <- 0 until n; j <- (i + 1) until n
    } yield (i.toLong, j.toLong)
    assert(Triangles.count(df(kn(4))) == 4L)
    assert(Triangles.count(df(kn(5))) == 10L)
    // C6 cycle and P5 path: zero triangles
    assert(Triangles.count(df(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 1L)))) == 0L)
    assert(Triangles.count(df(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))) == 0L)
    // bowtie sharing an edge: (1,2,3) and (1,2,4)
    assert(Triangles.count(df(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 4L), (2L, 4L)))) == 2L)
  }

  test("duplicates, reversed orientation, and self-loops do not change the count") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val dirty = tri ++ Seq((2L, 1L), (3L, 2L), (1L, 2L), (4L, 4L))
    assert(Triangles.count(df(tri)) == 1L)
    assert(Triangles.count(df(dirty)) == 1L)
  }

  test("hub graph: orientation keeps the wedge join off the hub") {
    // star hub 0—{1..30} plus rim edges (1,2) and (2,3): triangles
    // (0,1,2) and (0,2,3) only. The hub has degree 30, every rim vertex
    // ≤ 4 — under degree ranking all star edges point INTO the hub, so
    // no wedge fans out from it (the O(E^1.5) bound's load-bearing case).
    val star = (1 to 30).map(i => (0L, i.toLong))
    val rim = Seq((1L, 2L), (2L, 3L))
    assert(Triangles.count(df(star ++ rim)) == 2L)
  }

  test("wedge-join count equals GraphX triangleCount on the co-purchase graph") {
    val pairs = GraphOps.coPurchasePairs(spark, sf).select("src", "dst")
    // GraphX canonicalizes edges itself (self-edges dropped, src<dst
    // dedup); per-vertex counts sum to 3× the triangle total
    val gxEdges = pairs.rdd.map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), 1))
    val gx = org.apache.spark.graphx.Graph.fromEdges(gxEdges, 0)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.map(_._2.toLong).sum().toLong / 3
    val wedge = Triangles.count(pairs)
    assert(wedge == gx, s"wedge join $wedge vs GraphX $gx at sf0.001")
    assert(wedge > 0, "co-purchase projection has no triangles at sf0.001")
  }
}
