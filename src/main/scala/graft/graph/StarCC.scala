package graft.graph

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, GraftShims, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components WITHOUT GraphX: alternating large-star/small-star
  * rounds over pure DataFrames — the published MapReduce-scale CC algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14). Every round is a hash-partitioned groupBy + equi-join that AQE
  * can re-plan, skew-split, and spill (no RDD vertex/edge caching, no Pregel
  * vertex program), and the edge relation shrinks monotonically toward a
  * star forest in O(log n) rounds.
  *
  * Invariant maintained by both steps: every emitted edge points strictly
  * downward (src > dst), so the fixpoint is exactly a disjoint union of
  * stars rooted at component minima (min-label semantics, gate-checked
  * against a DuckDB recursive min-label CTE by graph09 and dd09; GraphX
  * `connectedComponents()` stays in test scope as an independent
  * reference in GraphCcSpec, and StarCcDifferentialSpec checks labels
  * against an in-test union-find).
  *
  * Graphs that fit the session's broadcast budget (16 B per edge against
  * `spark.sql.autoBroadcastJoinThreshold`; a threshold ≤ 0 disables it)
  * skip the rounds: the edge-checkpoint job observes the edge count, and
  * under the cut the checkpointed edges are collected and finished with an
  * array union-find on the driver ([[driverLabels]]). Below the cut job
  * dispatch is the whole cost of a round, so this path runs two jobs in
  * total, keeps two longs per vertex and writes the rows in tasks; above
  * it the rounds below run unchanged.
  *
  * A round is two jobs: largeStar's output is checkpointed, then
  * smallStar's (tx31's lineage-truncation discipline: iterative lazy plans
  * otherwise grow super-linearly in analysis cost). smallStar reads its
  * input three times (mins, join, union), so the first checkpoint keeps
  * largeStar's exchanges from running three times over. Convergence is a
  * 2-value (count, xor-of-hashes) fixpoint certificate, computed as
  * observed metrics inside smallStar's checkpoint job: no job of its own,
  * never corpus-sized.
  *
  * Fault stance: by default round state is localCheckpointed — executor
  * blocks with truncated lineage, persisted at 2× replication, so
  * single-executor loss is usually absorbed (StarCcFaultLane measured
  * byte-identical survival through 1- and even 2-of-4-executor SIGKILLs
  * on the real cluster), but survival is PROBABILISTIC: lose both
  * replicas of a live round block and the job fails loudly (never a
  * wrong answer — lineage is truncated, nothing silently recomputes
  * differently). Pass `reliable = true` (with `sc.setCheckpointDir` on
  * cluster storage) to make survival deterministic: both star steps of
  * every round are written to the checkpoint dir (two checkpoints per
  * round) and retried tasks re-read them — proven byte-identical
  * under mid-fixpoint executor SIGKILL by StarCcFaultLane (CLUSTER.md
  * r16d). Same algorithm; only durability of per-round state moves.
  * Reliable-mode round files stay in the checkpoint dir until application
  * end unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
  * which lets the ContextCleaner delete superseded rounds on GC.
  */
object StarCC {

  /** Re-exchange the per-vertex mins relation so the round join's input is
    * a PLAIN shuffle on the join key. Why: AQE's OptimizeSkewedJoin only
    * rewrites `SMJ(Sort(ShuffleRead), Sort(ShuffleRead))`; in the direct
    * composition the mins side has its final HashAggregate BETWEEN the
    * exchange and the join, so a power-law hub partition on the edge side
    * can never be skew-split (r16's 10%-hub graph: skew=true absent from
    * every round-1 join; StarCcDifferentialSpec checks both plans). A same-key repartition is
    * elided as redundant by the optimizer, so the barrier is a LAZY
    * partitioning break: project the join key through `greatest(u,u)` —
    * value-identical, but an expression rather than an attribute, so the
    * aggregate's hash(u) output partitioning does not propagate and
    * EnsureRequirements plans a fresh vertex-sized exchange under the
    * join's Sort, the shape OptimizeSkewedJoin matches. Nothing is
    * materialized and upstream ReusedExchange sharing is intact (the
    * rejected v1 localCheckpoint barrier cost 2.7× on a uniform graph;
    * this costs ~3%). Only paid when the caller asks for `skewSafe`. */
  private def reExchange(mins: DataFrame): DataFrame =
    mins.select(greatest(col("u"), col("u")).as("u"), col("m"))

  /** Degree-profile decision for [[labelsAuto]] (VERDICT r17 #5): the
    * maximum share of edge ENDPOINTS carried by a single vertex, from one
    * cheap pre-agg over the edge list. A uniform graph's max share is
    * ~1/V (graph01's degree statistic: ~0 at any real scale); a power-law
    * hub concentrates a constant fraction regardless of scale. Above
    * `threshold` (default 2% — well above uniform noise, well below the
    * gate graph's ~6% hub) the post-exchange hub partition is a straggler
    * no config can split without [[reExchange]]'s barrier, so the ~3%
    * barrier premium is cheap insurance; below it the barrier is pure
    * overhead. Cost: one exchange over E (same scale as round 1's
    * groupBy), paid ONCE before the fixpoint, not per round. */
  def skewDecision(edges: DataFrame, threshold: Double = 0.02): Boolean = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (maxDeg, totalEnds) = edges
      .select(explode(array(col("src"), col("dst"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("deg"))
      .agg(coalesce(max(col("deg")), lit(0L)),
        coalesce(sum(col("deg")), lit(0L)))
      .as[(Long, Long)].head() // 2-value decision certificate, never edge-sized
    totalEnds > 0 && maxDeg.toDouble / totalEnds.toDouble > threshold
  }

  /** [[labels]] with `skewSafe` chosen from the graph's own degree
    * profile ([[skewDecision]]) instead of a caller flag — the "auto"
    * mode VERDICT r17 asked for. The edge list is localCheckpointed FIRST
    * so the (possibly expensive) upstream pipeline runs once for both the
    * decision pre-agg and the fixpoint; GraphCcSpec asserts the decision
    * picks safe on a hub star and default on a uniform path. */
  def labelsAuto(edges: DataFrame, maxIter: Int = 50,
                 reliable: Boolean = false, threshold: Double = 0.02): DataFrame = {
    if (reliable) require(edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "StarCC.labelsAuto(reliable = true) needs setCheckpointDir (see labels)")
    val e0 =
      if (reliable) edges.select(col("src"), col("dst")).checkpoint()
      else edges.select(col("src"), col("dst")).localCheckpoint()
    labels(e0, maxIter, reliable, skewSafe = skewDecision(e0, threshold))
  }

  /** large-star: for each u, hang every HIGHER neighbor v > u under
    * m = min(N(u) ∪ {u}) — long chains collapse toward minima. */
  private[graft] def largeStar(e: DataFrame, skewSafe: Boolean = false): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins0 = sym.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    val mins = if (skewSafe) reExchange(mins0) else mins0
    sym.join(mins, col("src") === col("u"))
      .where(col("dst") > col("src"))
      .select(col("dst").as("s2"), col("m").as("d2"))
      .where(col("s2") =!= col("d2"))
      .select(col("s2").as("src"), col("d2").as("dst"))
    // no distinct here: duplicates feed smallStar's min aggregate
    // harmlessly, and the round's single distinct (end of smallStar)
    // restores set semantics — one exchange per round instead of two.
  }

  /** small-star: input edges all point downward; re-wire each node's
    * LOWER neighborhood (parents) onto its minimum parent. */
  private[graft] def smallStar(e: DataFrame, skewSafe: Boolean = false): DataFrame = {
    val mins0 = e.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
    val mins = if (skewSafe) reExchange(mins0) else mins0
    val rewired = e.join(mins, col("src") === col("u"))
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("s2"), col("m").as("d2"))
      .select(col("s2").as("src"), col("d2").as("dst"))
    rewired.union(mins.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Component labels for an undirected edge list `(src, dst)` (long ids,
    * orientation irrelevant, self-loops ignored): returns `(node, root)`
    * with one row per vertex incident to an edge, `root` = the minimum
    * vertex id reachable from `node`. Isolated vertices (absent from the
    * edge list) are the caller's concern. A graph under the broadcast
    * budget finishes on the driver (see the banner); `maxIter`,
    * `reliable` and `skewSafe` govern the rounds of the graphs above it.
    *
    * `skewSafe`: re-exchange each round's vertex-sized mins relation so
    * AQE's skew-join rewrite can split a power-law hub partition on the
    * edge side (see [[reExchange]]). The lazy partitioning-break barrier
    * costs ~3% on a UNIFORM 8M-edge graph (27.2 → 28.1 s — one extra
    * vertex-sized exchange per half-round; the rejected localCheckpoint
    * variant cost 2.7× by breaking ReusedExchange sharing) and on the
    * 10%-hub graph it unblocks the split (23.5 → 21.5 s, and at 100 TB
    * the default path's hub partition is an unbounded straggler no
    * config can split). Still off by default: the flag should follow
    * the graph's degree profile, not a blanket setting. */
  def labels(edges: DataFrame, maxIter: Int = 50,
             reliable: Boolean = false, skewSafe: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    if (reliable) require(spark.sparkContext.getCheckpointDir.isDefined,
      "StarCC.labels(reliable = true) needs spark.sparkContext.setCheckpointDir " +
        "pointing at storage every executor can read")
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // materialized ONCE: both the fixpoint's round 0 and the final vertex
    // set read this frame, so the (possibly expensive) upstream edge
    // pipeline — graph09's minhash-LSH self-join, the probe's co-purchase
    // projection — never re-executes after the loop. The edge count is
    // observed in the same job, so choosing the driver finish is free.
    val size = Observation()
    val pairs = ckpt(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .observe(size, count(lit(1)).as("n")))
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (budget > 0 && size.get("n").asInstanceOf[Long] <= budget / 16)
      return driverLabels(pairs)

    var e = pairs
    var prev = Map.empty[String, Any]
    var converged = false
    var it = 0
    while (!converged && it < maxIter) { // O(log n) expected; cap = backstop
      // (count, xor-of-hashes) set certificate, observed in the smallStar
      // checkpoint's own job: bit_xor is order-independent and cannot
      // overflow under ANSI mode (edges are distinct, so set semantics are
      // exact up to hash collision; a false "converged" would surface as an
      // oracle mismatch). An empty round observes (0, NULL) twice and stops.
      val cert = Observation()
      val next = ckpt(smallStar(ckpt(largeStar(e, skewSafe)), skewSafe)
        .observe(cert, count(lit(1)).as("n"), bit_xor(xxhash64(col("src"), col("dst"))).as("h")))
      val chk = cert.get
      converged = chk == prev
      prev = chk
      // superseded rounds: the driver drops its reference here and the
      // ContextCleaner releases the blocks/files on GC (Dataset.unpersist
      // would be a no-op — checkpointed frames aren't cacheManager
      // entries); peak concurrent state is therefore ~2 rounds of edges
      e = next
      it += 1
    }
    require(converged,
      s"StarCC did not reach the star-forest fixpoint in $maxIter rounds " +
        "— raise maxIter; emitting a non-converged edge set would mislabel")

    // star forest → labels: non-roots carry their root edge; roots (never
    // a src — edges point strictly downward) label themselves.
    val nodes = pairs.select(col("src").as("node"))
      .union(pairs.select(col("dst").as("node"))).distinct()
    val roots = nodes.join(e.select(col("src")), nodes("node") === col("src"), "left_anti")
      .select(col("node"), col("node").as("root"))
    e.select(col("src").as("node"), col("dst").as("root")).union(roots)
  }

  /** [[labels]]' finish for a graph under the broadcast budget: the edge
    * endpoints are collected as primitive longs (one array per partition,
    * never boxed rows), ranked by sorting, and merged by a union-find over
    * the ranks that always hangs the larger root under the smaller. Rank
    * order is id order, so every root is its component's minimum id, the
    * labeling the rounds reach. Returns the same `(node, root)` rows as
    * `min(n, defaultParallelism)` pairs of `long[]` slices (ids, roots) whose
    * tasks write each row into one reused UnsafeRow, under a local relation's
    * statistics, so joins broadcast it. Driver footprint: the endpoints and
    * their sorted copy (32 B per edge) and an int parent per vertex during
    * the union-find, then two longs per vertex. */
  private def driverLabels(pairs: DataFrame): DataFrame = {
    val parts = pairs.queryExecution.toRdd.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator(b.result())
    }.collect() // src, dst interleaved
    val ids = Array.concat(ArraySeq.unsafeWrapArray(parts): _*)
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def rank(v: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, v)
    for (ends <- parts; i <- ends.indices by 2) {
      val (a, b) = (find(rank(ends(i))), find(rank(ends(i + 1))))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val sc = pairs.sparkSession.sparkContext
    val k = math.max(1, math.min(n, sc.defaultParallelism))
    val cut = (0 to k).map(i => (i.toLong * n / k).toInt)
    val slices = cut.zip(cut.tail).map { case (lo, hi) =>
      (java.util.Arrays.copyOfRange(ids, lo, hi), Array.tabulate(hi - lo)(v => ids(find(lo + v)))) }
    val rows = sc.parallelize(slices, k).mapPartitions[InternalRow] { it =>
      val r = UnsafeRow.createFromByteArray(UnsafeRow.calculateBitSetWidthInBytes(2) + 16, 2)
      for ((node, root) <- it; v <- node.indices.iterator)
        yield { r.setLong(0, node(v)); r.setLong(1, root(v)); r }
    }
    GraftShims.dataFrameOf(pairs.sparkSession,
      Seq("node", "root").map(AttributeReference(_, LongType, nullable = false)()), rows, n)
  }
}
