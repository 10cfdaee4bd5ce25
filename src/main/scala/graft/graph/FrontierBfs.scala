package graft.graph

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Min-depth BFS layers over a pure DataFrame edge list (graph07,
  * graph12), added after the first full sf10 sweep (r18) named-excluded
  * the GraphX family: Pregel needs the vertex+edge RDDs CACHED, which
  * exceeds a single 100 GB JVM at sf10 and is the caching posture a
  * 1000-executor deployment also pays in aggregate memory. This walker
  * holds NOTHING resident: each round is frontier ⨝ edges (a
  * hash-partitioned equi-join AQE can re-plan, skew-split, and spill)
  * followed by an anti-join against the settled depths, with per-round
  * localCheckpoint lineage truncation (tx31 / StarCC discipline). The
  * frontier's size, the termination test, is observed inside the
  * frontier's own checkpoint job, so a round is two jobs (the frontier,
  * then the settled union) and nothing corpus-sized is ever collected.
  * Rounds = graph diameter from the source (O(log V) on the gate's
  * halving tree); messages are frontier-local, the shape that holds on a
  * billion-vertex graph.
  *
  * Min-depth semantics: one row per reachable vertex, `depth` = hop count
  * from `source`; the source itself is depth 0 whether or not it appears
  * in the edge list.
  */
object FrontierBfs {

  /** @param maxDepth iteration backstop, NOT a radius parameter: if a
    *   NON-EMPTY layer beyond `maxDepth` exists, those vertices would be
    *   silently indistinguishable from unreachable ones, so depths()
    *   THROWS instead of returning a truncated labeling (ADVICE r18).
    *   A labeling whose deepest layer is exactly `maxDepth` is complete
    *   and returns normally (r19 code review: the first backstop threw
    *   spuriously when eccentricity == maxDepth — the check now fires
    *   only after the NEXT layer is computed and found non-empty).
    *   Callers that want bounded-radius layers should filter the result
    *   of a large-enough cap, as graph07 does.
    */
  def depths(edges: DataFrame, source: Long, maxDepth: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    // undirected walk; checkpointed ONCE so the (possibly expensive)
    // upstream edge pipeline never re-executes per round
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .localCheckpoint()

    var depths = spark.range(1)
      .select(lit(source).as("v"), lit(0).as("depth"))
      .localCheckpoint()
    var frontier = depths.select(col("v"))
    var d = 0
    var frontierSize = 1L
    while (frontierSize > 0) {
      d += 1
      val size = Observation()
      val next = sym.join(frontier, sym("src") === frontier("v"))
        .select(sym("dst").as("v")).distinct()
        .join(depths.select(col("v").as("settled")),
          col("v") === col("settled"), "left_anti")
        .select(col("v"), lit(d).as("depth"))
        .observe(size, count(lit(1)).as("n"))
        .localCheckpoint() // truncate per-round lineage (StarCC/tx31)
      frontierSize = size.get("n").asInstanceOf[Long]
      if (frontierSize > 0) {
        // truncation check AFTER the layer is known non-empty: a walk
        // whose deepest layer is exactly maxDepth drains to an empty
        // next-frontier and exits normally above
        require(d <= maxDepth,
          s"FrontierBfs found a non-empty layer at depth $d > maxDepth=" +
            s"$maxDepth ($frontierSize vertices) — the labeling would be " +
            "truncated; raise maxDepth above the graph's eccentricity " +
            "from the source")
        // superseded unions: checkpointed frames release on GC like
        // StarCC's rounds; peak live state is ~2 copies of (v, depth)
        depths = depths.union(next).localCheckpoint()
        frontier = next.select(col("v"))
      }
    }
    depths
  }
}
