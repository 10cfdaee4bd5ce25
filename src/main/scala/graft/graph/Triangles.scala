package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting WITHOUT GraphX — the degree-ordered wedge join
  * ("node-iterator++" / compact-forward: Schank & Wagner, "Finding,
  * Counting and Listing all Triangles in Large Graphs", WEA'05; the same
  * orientation trick every MapReduce triangle paper builds on, e.g. Suri &
  * Vassilvitskii, WWW'11); graph05 and graph13 count with it. This is the
  * 100 TB posture GraphX `triangleCount()` cannot offer: GraphX caches the
  * vertex+edge RDDs and materializes per-vertex neighbor sets on the heap
  * (named-excluded OOM at sf10 even in a 100 GB JVM — bench/
  * sweep_sf10_r18.json), while this formulation is three hash-partitioned
  * equi-joins AQE can re-plan, skew-split, and spill. Third scale
  * replacement in the family, after StarCC (CC) and FrontierBfs (BFS).
  *
  * Shape and why it scales:
  *   1. orient every undirected edge from its lower-RANK endpoint to its
  *      higher-rank endpoint, rank = (degree, id) lexicographic. The
  *      oriented out-degree of EVERY vertex is then ≤ O(√E) — a power-law
  *      hub's edges point INTO it, so the hub never fans a wedge join —
  *      which bounds the wedge relation at Σ outdeg² = O(E^1.5) total,
  *      the best bound any triangle algorithm has (vs Σ deg² for the
  *      naive wedge join, quadratic in the hub degree).
  *   2. wedges: oriented ⨝ oriented on the shared low vertex.
  *   3. close: wedge (b, c) is a triangle iff oriented edge (b, c) exists
  *      — one more equi-join, then count.
  * Rank is compared as a (deg, id) STRUCT (Catalyst orders structs
  * lexicographically), so no packed-long id-width assumption caps the id
  * domain at scale. Ties are impossible: ids are distinct.
  *
  * The edge list is localCheckpointed once — the degree pre-agg and the
  * three join legs all read the materialized relation, so a (possibly
  * expensive) upstream pipeline like the co-purchase projection never
  * re-executes (StarCC/FrontierBfs discipline).
  *
  * Semantics match GraphX `triangleCount()` summed/3 (TrianglesSpec): input
  * orientation and duplicates are irrelevant (canonicalized + distinct
  * here), self-loops dropped.
  */
object Triangles {

  /** Total triangle count of the undirected graph given by `edges`
    * (columns `src`, `dst`; any orientation, duplicates and self-loops
    * tolerated). */
  def count(edges: DataFrame): Long = {
    val oriented = orient(edges)
    // wedge (x, y) anchored at low-rank apex a, rank(x) < rank(y) — the
    // strict rank order means each triangle is generated exactly once
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.rb") < col("e2.rb"))
      .select(col("e1.b").as("x"), col("e2.b").as("y"))
    wedges.join(oriented.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
      .count()
  }

  /** Degree-oriented edge list `(a, b, rb)` with rank(a) < rank(b),
    * rank = struct(degree, id); `rb` = b's rank, carried so the wedge
    * join can order the two legs without re-joining degrees. */
  private[graft] def orient(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // materialize upstream once (see banner)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n")
      // fully qualified: this object's count(DataFrame) shadows the agg fn
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val ranked = e
      .join(deg.select(col("n").as("u"), struct(col("deg"), col("n")).as("ru")), "u")
      .join(deg.select(col("n").as("v"), struct(col("deg"), col("n")).as("rv")), "v")
    ranked.select(
      when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("a"),
      when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("b"),
      when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rb"))
  }
}
