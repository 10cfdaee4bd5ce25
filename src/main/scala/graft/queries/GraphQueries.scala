package graft.queries

import graft.graph.{FrontierBfs, GraphOps, StarCC, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph queries with relational oracles: the graph result must agree
  * with the equivalent SQL aggregation, which DuckDB can check. Connected
  * components run on StarCC, triangles on Triangles, BFS on FrontierBfs. */
object GraphQueries {
  val defs: Seq[QueryDef] = Seq(
    QueryDef("graph01_degree", (s, d) => {
      GraphOps.customerDegrees(s, d)
        .select(col("c_custkey"), col("n_orders").cast("int").as("n_orders"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS INTEGER) AS n_orders
      FROM orders GROUP BY 1 ORDER BY c_custkey""")),

    // the co-purchase projection (hot parts capped at 40 buyers) the
    // co-purchase queries run on — the scale-critical relational step. Gated
    // at EVERY sf by a bounded per-bucket certificate (r19, VERDICT r18
    // #2): the relation itself is ~1e9 rows at sf10, where the harness's
    // cell-for-cell pandas compare — not either engine — was the sweep
    // bottleneck (sweep_sf10_r18's named exclusion). 512 buckets of
    // (count, Σw, Σsrc, Σdst, Σ modular-fingerprint) pin the relation
    // order-independently in exact integer arithmetic both engines share;
    // the per-row fp term stays < 1e9 and per-bucket sums < 1e15, far
    // inside int64 even at sf10. The full relation remains verified
    // cell-for-cell by graph02b at the sf0.01 gate / sf1 sweep.
    QueryDef("graph02_copurchase_cert", (s, d) => {
      GraphOps.coPurchasePairs(s, d)
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .groupBy((col("src") % 512).as("bucket"))
        .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("sum_w"),
          sum(col("src")).as("sum_src"), sum(col("dst")).as("sum_dst"),
          sum((col("src") * 131071L + col("dst") * 31L + col("w")) % 1000000007L)
            .as("fp"))
        .orderBy("bucket")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS (
        SELECT a.cust AS src, b.cust AS dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust
        GROUP BY 1, 2)
      SELECT src % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(w) AS BIGINT) AS sum_w,
             CAST(SUM(src) AS BIGINT) AS sum_src,
             CAST(SUM(dst) AS BIGINT) AS sum_dst,
             CAST(SUM((src * 131071 + dst * 31 + w) % 1000000007) AS BIGINT) AS fp
      FROM pairs GROUP BY 1 ORDER BY bucket""")),

    // the SAME projection cell-for-cell — the strongest possible gate,
    // kept where the harness compare is feasible (sf0.01 gate, sf1 sweep);
    // at sf10 the certificate twin above carries the tier.
    QueryDef("graph02b_copurchase_edges_full", (s, d) => {
      GraphOps.coPurchasePairs(s, d).orderBy("src", "dst")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part))
      SELECT a.cust AS src, b.cust AS dst, CAST(COUNT(*) AS INTEGER) AS w
      FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust
      GROUP BY 1, 2 ORDER BY src, dst""")),

    // bipartite customer->order graph invariant: every order attaches to
    // exactly one customer, so each connected component is one customer
    // plus their orders — StarCC's component count (customers without an
    // order counted as their own component) must equal |customer|
    QueryDef("graph03_components", (s, d) => {
      import s.implicits._
      Seq(GraphOps.componentCount(s, d)).toDF("n_components")
    }, Some("SELECT CAST(COUNT(*) AS BIGINT) AS n_components FROM customer")),

    // Connected components over the FULL co-purchase projection, verified
    // by a FIXPOINT CERTIFICATE instead of SQL recursion (r12 ask #1): the
    // recursive min-label oracle carries every label to every reachable
    // node — O(k²) rows per size-k component, >60 GB spill at sf1 — so at
    // scale we verify the labeling rather than recompute it. StarCC
    // labels each vertex with the min reachable vertex id; the certificate
    // counts violations of the properties that labeling must satisfy:
    //   n_cross_edges  — edges whose endpoints got different labels
    //                    (labeling finer than connectivity), must be 0;
    //   n_anchor_bad   — vertices with lbl > node, a label that is not
    //                    itself a vertex, or L(L(v)) != L(v) (labels not
    //                    anchored at component-min roots), must be 0.
    // DuckDB predicts the zeros plus the DuckDB-computable sizes
    // (n_vertices, n_edges) from the base tables — one join, no
    // recursion, ~10 s at sf1. Over-merging (one label spanning two true
    // components) cannot arise from edge-local propagation, and the edge
    // relation itself is verified cell-for-cell by graph02b; the over-merge
    // direction is additionally anchored empirically by GraphCcSpec, which
    // recomputes the full partition with an independent union-find at
    // sf0.001 and requires label-for-label equality.
    QueryDef("graph04_copurchase_cc", (s, d) => {
      import s.implicits._
      // derive the expensive projection ONCE and checkpoint it: both
      // StarCC and the certificate's edge check read the stored relation
      // (graph06's reuse pattern; code-review r13)
      val pairs = GraphOps.coPurchasePairs(s, d).select("src", "dst")
        .localCheckpoint()
      val lab = StarCC.labels(pairs).select(col("node"), col("root").as("lbl"))
      val anchor = lab.as("v")
        .join(lab.as("r"), col("v.lbl") === col("r.node"), "left")
        .agg(
          count(lit(1)).as("n_vertices"),
          coalesce(sum(when(col("v.lbl") > col("v.node")
            || col("r.node").isNull
            || col("r.lbl") =!= col("v.lbl"), 1L).otherwise(0L)), lit(0L))
            .as("n_anchor_bad"))
      val cross = pairs
        .join(lab.as("ls"), col("src") === col("ls.node"), "left")
        .join(lab.as("ld"), col("dst") === col("ld.node"), "left")
        .agg(
          count(lit(1)).as("n_edges"),
          coalesce(sum(when(col("ls.lbl").isNull || col("ld.lbl").isNull
            || col("ls.lbl") =!= col("ld.lbl"), 1L).otherwise(0L)), lit(0L))
            .as("n_cross_edges"))
      anchor.crossJoin(cross) // 1×1 certificate row
        .select("n_vertices", "n_edges", "n_cross_edges", "n_anchor_bad")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS (
        SELECT DISTINCT a.cust AS src, b.cust AS dst
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust)
      SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_vertices,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
             CAST(0 AS BIGINT) AS n_cross_edges,
             CAST(0 AS BIGINT) AS n_anchor_bad
      FROM (SELECT src AS v FROM pairs UNION SELECT dst AS v FROM pairs)""")),

    // triangle counting — the classic neighborhood-intersection graph
    // kernel (cluster-coefficient building block), vs the first-principles
    // SQL triple-join: a triangle a<b<c is the edge triple
    // (a,b),(a,c),(b,c) in the src<dst pair set. Runs on the deterministic
    // cust%10 induced subgraph (r12 ask #1): the full co-purchase graph is
    // DENSE (avg degree ~1100 at sf1), so the oracle's wedge join is
    // Σdeg² ≈ 2e11 rows — infeasible in any engine; the 10% vertex sample
    // keeps ~1% of the pairs (1.3M triangles, oracle 2.4 s at sf1) and
    // scales WITH sf rather than being a constant-work cap. Counted by
    // graft.graph.Triangles' degree-ordered wedge join, as graph13 is.
    QueryDef("graph05_triangles", (s, d) => {
      import s.implicits._
      val pairs = GraphOps.coPurchasePairs(s, d, custMod = 10).select("src", "dst")
      Seq(Triangles.count(pairs)).toDF("n_triangles")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey % 10 = 0),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS (
        SELECT DISTINCT a.cust AS src, b.cust AS dst
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM pairs p1
      JOIN pairs p2 ON p2.src = p1.src AND p2.dst > p1.dst
      JOIN pairs p3 ON p3.src = p1.dst AND p3.dst = p2.dst""")),

    // ---- graph06: PageRank in INTEGER FIXED-POINT over the co-purchase
    // projection — 3 power iterations where every quantity is a long
    // (rank scale 1e12, floor division for contributions and damping), so
    // both engines compute bit-identical ranks: integer sums are exact and
    // order-independent, which float PageRank is not (SURVEY §5.4 applied
    // to an iterative algorithm). The iteration is the canonical Spark
    // shape — edges JOIN ranks on src, groupBy dst, map-side-combined SUM
    // — and the edge relation is localCheckpoint'd once so the expensive
    // co-purchase projection isn't re-derived per iteration. At 100 TB the
    // per-iteration shuffle partitions by dst; the symmetric edge set
    // guarantees every vertex receives inflow, so no dangling-mass term.
    // Runs on the deterministic cust%4 induced subgraph (r12 ask #1):
    // DuckDB 1.0 inlines every CTE reference, so the 3-iteration chain
    // re-derives the 84M-pair full projection a multiplicative number of
    // times (>60 GB spill at sf1); the 25% vertex sample keeps ~6% of the
    // pairs and the whole inlined oracle at ~35 s at sf1, scaling with sf.
    // The Spark iteration shape is unchanged — and on the Spark side the
    // projection is localCheckpoint'd once, which is exactly the reuse the
    // SQL engine can't express (plan-locked in PlanShapeSpec).
    QueryDef("graph06_pagerank", (s, d) =>
      integerPageRank(s, d, custMod = 4).orderBy("node"), Some("""
      WITH cp AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey % 4 = 0),
      small AS MATERIALIZED (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS MATERIALIZED (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.cust AS src, b.cust AS dst
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust),
      edges AS MATERIALIZED (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      verts AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      prm AS MATERIALIZED (SELECT 1000000000000 // COUNT(*) AS init,
                     (15 * (1000000000000 // COUNT(*))) // 100 AS tp
              FROM verts),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      r0 AS (SELECT node, (SELECT init FROM prm) AS pr FROM verts),
      it1 AS MATERIALIZED (SELECT e.dst AS node,
                     (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
              FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      it2 AS MATERIALIZED (SELECT e.dst AS node,
                     (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
              FROM edges e JOIN it1 r ON r.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst),
      it3 AS MATERIALIZED (SELECT e.dst AS node,
                     (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
              FROM edges e JOIN it2 r ON r.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst)
      SELECT node, CAST(pr AS BIGINT) AS pr FROM it3 ORDER BY node""")),

    // ---- graph07: bounded-radius BFS layers: hop-depth layers (<= 4)
    // from the smallest co-purchase vertex, counted per depth. The oracle
    // recomputes min-depth reachability from first principles with a
    // recursive CTE whose UNION dedup bounds the walk at |V| x depth rows.
    // graft.graph.FrontierBfs walks the whole component (one frontier ⨝
    // edges round per hop, frontier-local messages only — the shape that
    // holds on a billion-vertex graph) and the layers past 4 are filtered.
    QueryDef("graph07_bfs_layers", (s, d) => {
      // stored once: the source's min and the walk both read it
      val pairs = GraphOps.coPurchasePairs(s, d).select("src", "dst").localCheckpoint()
      val source = pairs.agg(min(col("src"))).head().getLong(0) // src < dst
      FrontierBfs.depths(pairs, source)
        .filter(col("depth") <= 4)
        .groupBy("depth").agg(count(lit(1)).as("n_custs"))
        .orderBy("depth")
    }, Some("""
      WITH RECURSIVE edges AS (
        SELECT src, dst FROM (
          WITH cp AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                    WHERE c <= 40),
          bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
          pairs AS (
            SELECT DISTINCT a.cust AS src, b.cust AS dst
            FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust)
          SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs)),
      start AS (SELECT MIN(src) AS s FROM edges),
      walk(v, dep) AS (
        SELECT s, 0 FROM start
        UNION
        SELECT e.dst, w.dep + 1
        FROM walk w JOIN edges e ON e.src = w.v WHERE w.dep < 4),
      dist AS (SELECT v, MIN(dep) AS depth FROM walk GROUP BY v)
      SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_custs
      FROM dist GROUP BY depth ORDER BY depth""")),

    // ---- graph08: customer-similarity Jaccard over the bipartite
    // purchase graph — the "customers like you" measure the co-purchase
    // projection (graph02) is the numerator of, completed into a true
    // set similarity: Jaccard of the two customers' (df-capped) purchase
    // sets in exact integer arithmetic. The one-mode co-purchase graph
    // itself is DENSE at every sf (min degree > 60 — a wedge join over it
    // is the n²-adjacent shape this family exists to avoid), so the
    // similarity is computed where the fan-out is bounded: on the
    // bipartite (cust, part) relation with hot parts capped at 40 buyers
    // (dd02's maxDf discipline — at most 40² pair rows per part), and the
    // per-customer set sizes computed over the SAME capped space so the
    // score stays a true Jaccard of the filtered sets.
    QueryDef("graph08_neighbor_jaccard", (s, d) => {
      val orders = Tables.load(s, d, "orders")
      val li = Tables.load(s, d, "lineitem")
      val cp = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
      val small = cp.groupBy("part").count()
        .filter(col("count") <= 40).select("part")
      val bounded = cp.join(small, "part")
      val sz = bounded.groupBy(col("cust").as("node")).agg(count(lit(1)).as("n"))
      val common = bounded.as("a").join(bounded.as("b"),
          col("a.part") === col("b.part") && col("a.cust") < col("b.cust"))
        .groupBy(col("a.cust").as("ca"), col("b.cust").as("cb"))
        .agg(count(lit(1)).as("c"))
      common
        .join(sz.as("sa"), col("ca") === col("sa.node"))
        .join(sz.as("sb"), col("cb") === col("sb.node"))
        .select(col("ca"), col("cb"), col("c"),
          floor(col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")) * 10000)
            .cast("long").as("jac_x1e4"))
        .filter(col("jac_x1e4") >= 1000)
        .orderBy("ca", "cb")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      sz AS (SELECT cust AS node, COUNT(*) AS n FROM bounded GROUP BY 1),
      common AS (
        SELECT a.cust AS ca, b.cust AS cb, COUNT(*) AS c
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust
        GROUP BY 1, 2),
      scored AS (
        SELECT ca, cb, c,
               CAST(FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000) AS BIGINT) AS jac_x1e4
        FROM common JOIN sz sa ON ca = sa.node JOIN sz sb ON cb = sb.node)
      SELECT ca, cb, c, jac_x1e4 FROM scored
      WHERE jac_x1e4 >= 1000 ORDER BY ca, cb""")),

    // ---- graph09: connected components on graft.graph.StarCC —
    // alternating large-star/small-star rounds over pure DataFrames (the
    // published MapReduce-scale CC algorithm: Kiveris et al., "Connected
    // Components in MapReduce and Beyond", SoCC'14): no RDD vertex/edge
    // caching, no Pregel vertex program — every round is a
    // hash-partitioned groupBy + equi-join that AQE can re-plan,
    // skew-split, and spill, and the edge relation SHRINKS monotonically
    // toward a star forest in O(log n) rounds whose roots are component
    // minima. A candidate set under the broadcast budget (this one, at
    // every gate sf) skips the rounds and finishes with a union-find on
    // the driver. Runs on the SAME bounded minhash-LSH near-dup edge set
    // as dd09 and emits the SAME (root, n_docs, max_doc) relation, checked
    // against DuckDB's recursive min-label CTE; GraphCcSpec checks StarCC
    // on this edge set, on both paths, against GraphX in test scope, and
    // on graph04's co-purchase graph against a union-find.
    QueryDef("graph09_star_cc", (s, d) => TextDedup.nearDupClusterSizes(s, d), Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${TextDedup.minhashPairsSql("docs200")},
      ${TextDedup.ccFixpointSql}
      SELECT root, COUNT(*) AS n_docs, MAX(node) AS max_doc
      FROM comp GROUP BY 1 ORDER BY root""")),

    // ---- graph10: StarCC's skewSafe path (r17) gated every round on a
    // DETERMINISTIC hub graph. Construction from customer keys, scale-
    // invariant by residue: vertices v = c_custkey % 20000; chain edges
    // (v, v%50) hang every vertex under its residue-class rep; hub edges
    // (0, v) for v%50 ∈ {13,27,41} pour ~6% of all edges onto vertex 0 —
    // the power-law shape AQE can now skew-split under skewSafe
    // (BENCH_SCALING r17; StarCcDifferentialSpec checks the split). Components are closed-form:
    // classes {0,13,27,41} merge under root 0, every other class r roots
    // at r — so the oracle is pure arithmetic (no recursive CTE, unlike
    // graph09's), and what the gate checks is that the skewSafe rounds
    // (mins re-exchanged through the lazy greatest(u,u) partitioning
    // break inside each star step's checkpoint job, two per round) are
    // label-identical to the closed form at every sf. The hub graph
    // (<= 20k vertices) always fits the broadcast budget, where StarCC
    // would finish on the driver, so hubGraph builds it in a child
    // session with broadcast joins off (roundsSession) and the rounds
    // run at every sf. src is written
    // pmod(v,1) (= 0 for the non-negative keys) rather than lit(0): a
    // literal alias under Union trips Spark 4.1's constraint rewriting
    // (key not found: src#N — hit in r16; a gate query must not need
    // session surgery to avoid it). r18
    // (ADVICE r17): the hub root 0 is a graph vertex BY
    // CONSTRUCTION (verts ∪ {0}, mirrored in the oracle) instead of
    // relying on 0-based custkeys, and the result counts over VERTS with
    // isolated vertices rooting at themselves — so the gate holds on
    // 1-based dbgen data and sparse key sets too.
    QueryDef("graph10_skewsafe_cc", (s, d) => {
      val (verts, edges) = hubGraph(s, d)
      hubGraphRoots(verts, StarCC.labels(edges, skewSafe = true))
    }, Some(hubGraphOracleSql)),

    // ---- graph11: skewSafe AUTO (VERDICT r17 #5) — the barrier decision
    // comes from the graph's own degree profile, not a caller flag: one
    // cheap endpoint-degree pre-agg (StarCC.skewDecision — max single-
    // vertex share of edge endpoints, a scale-invariant statistic) picks
    // the lazy re-exchange barrier when a hub concentrates > 2% of
    // endpoints. On this graph the hub carries ~4% (decision: safe); on
    // a uniform graph the share is ~1/V (decision: default) — both
    // directions asserted in GraphCcSpec. Oracle: the same
    // closed form as graph10, so auto-mode label-exactness is gated at
    // every sf alongside the explicit-flag path.
    QueryDef("graph11_auto_skew_cc", (s, d) => {
      val (verts, edges) = hubGraph(s, d)
      hubGraphRoots(verts, StarCC.labelsAuto(edges))
    }, Some(hubGraphOracleSql)),

    // ---- graph12: DataFrame-native BFS (r18) — the scale tier the first
    // full sf10 sweep proved GraphX's Pregel BFS cannot offer (it caches
    // the vertex+edge RDDs; OOM at sf10 even in a 100 GB JVM).
    // FrontierBfs walks frontier ⨝ edges + anti-join rounds with nothing
    // resident. Gate graph: the HALVING TREE over v = custkey % 20000 —
    // every vertex's full ancestor chain u → u>>1 → … → 1 → 0 is
    // materialized as edges (intermediate halving values are graph nodes
    // even when absent from the key set, so the gate holds on sparse /
    // 1-based key sets — graph10's r18 lesson applied from the start).
    // Closed-form oracle: depth(u) = bit_length(u) (min k with u>>k = 0),
    // pure integer arithmetic, valid at every sf; depth is O(log V), the
    // regime where the per-round join shape matters and a recursive-CTE
    // oracle would not scale.
    QueryDef("graph12_frontier_bfs", (s, d) => {
      val verts = Tables.load(s, d, "customer")
        .select((col("c_custkey") % 20000).cast("long").as("v")).distinct()
      val edges = verts.filter(col("v") >= 1)
        .select(explode(expr("sequence(0, 20)")).as("k"), col("v"))
        .select(expr("shiftright(v, k)").as("src"))
        .filter(col("src") >= 1)
        .select(col("src"), expr("shiftright(src, 1)").as("dst"))
        .distinct()
      FrontierBfs.depths(edges, source = 0L)
        .groupBy("depth")
        .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("sum_v"))
        .orderBy("depth")
    }, Some("""
      WITH verts AS (SELECT DISTINCT CAST(c_custkey % 20000 AS BIGINT) AS v
                     FROM customer),
      nodes AS (
        SELECT DISTINCT (v >> k) AS u
        FROM verts, generate_series(0, 20) t(k)
        WHERE (v >> k) >= 1
        UNION SELECT 0),
      d AS (
        SELECT u, CASE WHEN u = 0 THEN 0
                       ELSE (SELECT MIN(k) FROM generate_series(1, 40) s(k)
                             WHERE (u >> k) = 0) END AS depth
        FROM nodes)
      SELECT CAST(depth AS INTEGER) AS depth,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(u) AS BIGINT) AS sum_v
      FROM d GROUP BY 1 ORDER BY 1""")),

    // ---- graph13: DataFrame-native triangle counting (r19, VERDICT r18
    // #1) — the scale tier for the family's largest GraphX exclusion:
    // GraphX `triangleCount()` needs per-vertex neighbor sets cached on
    // the heap (OOM at sf10; sweep_sf10_r18). Triangles re-expressed as
    // the degree-ordered wedge join (graft.graph.Triangles: orient
    // low-rank → high-rank, wedge equi-join on the apex, close with an
    // edge equi-join — O(E^1.5) total work, every step an AQE-replannable
    // shuffle join). Same graph, kernel and oracle as graph05 (the cust%10
    // induced co-purchase subgraph); TrianglesSpec checks the kernel
    // against GraphX `triangleCount()` in test scope.
    QueryDef("graph13_triangles_df", (s, d) => {
      import s.implicits._
      val pairs = GraphOps.coPurchasePairs(s, d, custMod = 10)
        .select("src", "dst")
      Seq(Triangles.count(pairs)).toDF("n_triangles")
    }, Some("""
      WITH cp AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey % 10 = 0),
      small AS (SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
                WHERE c <= 40),
      bounded AS (SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS (
        SELECT DISTINCT a.cust AS src, b.cust AS dst
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM pairs p1
      JOIN pairs p2 ON p2.src = p1.src AND p2.dst > p1.dst
      JOIN pairs p3 ON p3.src = p1.dst AND p3.dst = p2.dst""")),

    // ---- graph14: PageRank's sf10 tier (r19) — graph06 is named-excluded
    // at sf10 because DUCKDB re-inlines its 3-iteration CTE chain over the
    // co-purchase projection (>77 GB spill), leaving PageRank the one
    // graph kernel with no scale-gated tier. Same REAL distributed
    // iteration as graph06 — edges ⨝ ranks on src, groupBy dst, exact
    // integer fixed-point, 3 rounds, localCheckpointed edge relation —
    // but on the deterministic RING over the customer keys (v → its
    // successor in key order, wrap-around; symmetrized = 2-regular).
    // On a k-regular graph the UNIFORM rank vector is invariant under
    // the PR update, so every iteration's value is a SCALAR recurrence
    //   p' = tp + (85 * (k * (p div k))) div 100,   p0 = base div n
    // and the oracle is pure arithmetic (no recursion, no graph replay)
    // valid at every sf — the graph10/graph12 closed-form-gate pattern
    // applied to an iterative kernel. The gate certifies the ITERATION
    // MACHINERY (per-round exchange, join shape, integer div semantics)
    // at full vertex scale; skew coverage lives with graph10/graph11.
    QueryDef("graph14_pagerank_ring", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = 1000000000000L
      val verts = Tables.load(s, d, "customer")
        .select(col("c_custkey").cast("long").as("v")).distinct()
      // ring edges: v -> successor in key order, wrap-around to the
      // minimum key. Successor is computed with the tx29 two-level shape
      // (r20 — closes VERDICT r19's last latent item: the previous
      // single-partition global window): an ORDER-PRESERVING range bucket
      // (v div W, 256 buckets over the key span) keys fully parallel
      // per-bucket lead() windows, and the bucket seams are closed by a
      // broadcast join of the ≤256-row "first key of the next non-empty
      // bucket" relation — whose own window is bounded-constant, never
      // data-sized. No single partition ever holds the vertex relation,
      // at any scale.
      val (minV, maxV) = {
        val r = verts.agg(min(col("v")), max(col("v"))).first()
        (r.getLong(0), r.getLong(1))
      }
      val width = ((maxV - minV) / 256L) + 1L
      val vb = verts.select(col("v"),
        expr(s"(v - $minV) div $width").as("b"))
      val localSucc = vb.select(col("v"), col("b"),
        lead(col("v"), 1).over(Window.partitionBy("b").orderBy("v")).as("nxt"))
      val seam = vb.groupBy("b").agg(min(col("v")).as("bfirst"))
        .select(col("b"),
          lead(col("bfirst"), 1).over(Window.orderBy("b")).as("nb_first"))
      val ring = localSucc.join(broadcast(seam), Seq("b"))
        .select(col("v").as("src"),
          coalesce(col("nxt"), col("nb_first"), lit(minV)).as("dst"))
        .localCheckpoint()
      val edges = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct()
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val n = nodes.count()
      val init = base / n
      val teleport = 15L * init / 100L
      var ranks = nodes.select(col("node"), lit(init).as("pr"))
      for (_ <- 1 to 3) { // graph06's exact iteration body
        ranks = edges.join(ranks, col("src") === col("node"))
          .join(outdeg, "src")
          .select(col("dst"), expr("pr div deg").as("c"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("c")).as("inflow"))
          .select(col("node"),
            (lit(teleport) + expr("(85 * inflow) div 100")).as("pr"))
      }
      // 2-regular + uniform init ⇒ rank stays uniform: certify as one row
      ranks.groupBy("pr").agg(count(lit(1)).as("n_nodes")).orderBy("pr")
    }, Some("""
      WITH n AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM customer),
      p0 AS (SELECT n, 1000000000000 // n AS p,
                    (15 * (1000000000000 // n)) // 100 AS tp FROM n),
      p1 AS (SELECT n, tp, tp + (85 * (2 * (p // 2))) // 100 AS p FROM p0),
      p2 AS (SELECT n, tp, tp + (85 * (2 * (p // 2))) // 100 AS p FROM p1),
      p3 AS (SELECT n, tp, tp + (85 * (2 * (p // 2))) // 100 AS p FROM p2)
      SELECT CAST(p AS BIGINT) AS pr, CAST(n AS BIGINT) AS n_nodes FROM p3""")),

    // ---- graph15: PageRank's NATURAL-GRAPH scale tier (r20, VERDICT r19
    // #1) — graph14's ring is 2-regular, so its rank vector is uniform by
    // construction and certifies only the iteration machinery; the
    // skewed-inflow aggregation PR actually stresses at 100 TB (hub
    // vertices receiving most of the mass) was certified nowhere above
    // sf1. This runs graph06's EXACT integer fixed-point iteration on the
    // real cust%4 co-purchase graph and certifies the full rank vector
    // through a 512-bucket exact certificate (the graph02_cert shape:
    // count + Σpr + Σ modular-fingerprint per bucket, order-independent
    // exact integers both engines share). The oracle replays the same
    // 3-iteration recurrence in DuckDB with MATERIALIZED CTEs — the
    // discovery that unblocks this tier: graph06's sf10 exclusion was
    // DuckDB 1.0 re-INLINING every CTE reference (the co-purchase
    // projection re-derived multiplicatively, >77 GB spill); AS
    // MATERIALIZED pins one derivation and the sf10 oracle completes in
    // ~250 s inside the sweep's 600 s budget. Per-row fp < 1e9, per-bucket
    // sums far inside int64 at every sf. Cross-checked label-for-label
    // against GraphX staticPageRank at sf1 in r19 (rank vectors
    // agree to float precision after fixed-point rescaling).
    QueryDef("graph15_pagerank_natural_cert", (s, d) => {
      integerPageRank(s, d, custMod = 4)
        .groupBy((col("node") % 512).as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("pr")).as("sum_pr"),
          sum((col("node") * 131071L + col("pr")) % 1000000007L).as("fp"))
        .orderBy("bucket")
    }, Some("""
      WITH cp AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey % 4 = 0),
      small AS MATERIALIZED (
        SELECT part FROM (SELECT part, COUNT(*) AS c FROM cp GROUP BY 1)
        WHERE c <= 40),
      bounded AS MATERIALIZED (
        SELECT cust, cp.part AS part FROM cp JOIN small USING (part)),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.cust AS src, b.cust AS dst
        FROM bounded a JOIN bounded b ON a.part = b.part AND a.cust < b.cust),
      edges AS MATERIALIZED (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      verts AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      prm AS MATERIALIZED (
        SELECT 1000000000000 // COUNT(*) AS init,
               (15 * (1000000000000 // COUNT(*))) // 100 AS tp FROM verts),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
      r0 AS (SELECT node, (SELECT init FROM prm) AS pr FROM verts),
      it1 AS MATERIALIZED (
        SELECT e.dst AS node,
               (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
        FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst),
      it2 AS MATERIALIZED (
        SELECT e.dst AS node,
               (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
        FROM edges e JOIN it1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst),
      it3 AS MATERIALIZED (
        SELECT e.dst AS node,
               (SELECT tp FROM prm) + (85 * SUM(r.pr // d.deg)) // 100 AS pr
        FROM edges e JOIN it2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst)
      SELECT node % 512 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(pr) AS BIGINT) AS sum_pr,
             CAST(SUM((node * 131071 + pr) % 1000000007) AS BIGINT) AS fp
      FROM it3 GROUP BY 1 ORDER BY bucket"""))
  )

  /** graph06's PageRank body, shared with graph15's scale certificate:
    * 3 power iterations in exact INTEGER fixed-point (rank scale 1e12,
    * floor division for contributions and damping) over the symmetrized
    * cust%custMod co-purchase projection, so both engines compute
    * bit-identical ranks — integer sums are exact and order-independent,
    * which float PageRank is not. Canonical Spark shape: edges ⨝ ranks on
    * src, groupBy dst with map-side-combined SUM; the expensive projection
    * is localCheckpoint'd ONCE across the 3 iterations (the reuse a
    * CTE-inlining SQL engine can't express; plan-locked in PlanShapeSpec).
    * At 100 TB the per-iteration shuffle partitions by dst; the symmetric
    * edge set guarantees every vertex receives inflow, so no dangling-mass
    * term. */
  private[graft] def integerPageRank(s: SparkSession, d: String, custMod: Int): DataFrame = {
    val base = 1000000000000L
    val pairs = GraphOps.coPurchasePairs(s, d, custMod = custMod).select("src", "dst")
    val edges = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // cache the projection across the 3 iterations
    val verts = edges.select(col("src").as("node")).distinct()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = verts.count() // one scalar for the init rank, as in any PR impl
    val init = base / n
    val teleport = 15L * init / 100L
    var ranks = verts.select(col("node"), lit(init).as("pr"))
    for (_ <- 1 to 3) {
      ranks = edges.join(ranks, col("src") === col("node"))
        .join(outdeg, "src")
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("inflow"))
        .select(col("node"),
          (lit(teleport) + expr("(85 * inflow) div 100")).as("pr"))
    }
    ranks
  }

  /** Child sessions for graph10/graph11, one per root session so that
    * Tables.load's per-session cache stays warm; weak-keyed, as
    * Relational's bloom children are. */
  private val roundsSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** A child of `s0` carrying its runtime confs with broadcast joins off:
    * StarCC.labels then never takes its driver finish, so a graph built
    * here runs the distributed rounds (with AQE's skew-join split, which
    * only rewrites sort-merge joins) whatever its size. */
  private def roundsSession(s0: SparkSession): SparkSession = {
    val s = roundsSessions.computeIfAbsent(s0, (root: SparkSession) => root.newSession())
    s0.conf.getAll.foreach { case (k, v) => if (s0.conf.isModifiable(k)) s.conf.set(k, v) }
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The deterministic power-law gate graph shared by graph10/graph11:
    * vertices v = c_custkey % 20000 ∪ {0} (the hub root is a member by
    * construction — both the 0-row and the hub-edge src are written as
    * arithmetic on data, pmod(v,1), never lit(0), see graph10's banner);
    * chain edges (v, v%50) hang every vertex under its residue-class rep;
    * hub edges (0, v) for v%50 ∈ {13,27,41} pour ~6% of all edges onto
    * vertex 0. */
  private def hubGraph(s0: SparkSession, d: String): (DataFrame, DataFrame) = {
    val vraw = Tables.load(roundsSession(s0), d, "customer")
      .select((col("c_custkey") % 20000).as("v"))
    val verts = vraw
      .union(vraw.limit(1).select(pmod(col("v"), lit(1L)).as("v")))
      .distinct()
    val chain = verts.filter(col("v") >= 50)
      .select(col("v").as("src"), (col("v") % 50).as("dst"))
    val hub = verts.filter(col("v") % 50 === 13 || col("v") % 50 === 27 ||
        col("v") % 50 === 41)
      .select(pmod(col("v"), lit(1L)).as("src"), col("v").as("dst"))
    (verts, chain.union(hub).filter(col("src") =!= col("dst")))
  }

  /** Count components over VERTS (not over labeled nodes): labels covers
    * only edge-incident vertices, so a vertex isolated on sparse key sets
    * roots at itself via the coalesce — matching the closed-form oracle,
    * which enumerates verts. */
  private def hubGraphRoots(verts: DataFrame, labels: DataFrame): DataFrame =
    verts.join(labels, verts("v") === labels("node"), "left")
      .select(col("v"), coalesce(col("root"), col("v")).as("root"))
      .groupBy("root")
      .agg(count(lit(1)).as("n_nodes"), max(col("v")).as("max_node"))
      .orderBy("root")

  // def, not val: `defs` above initializes first (object init order)
  private def hubGraphOracleSql = """
      WITH verts AS (
        SELECT DISTINCT c_custkey % 20000 AS v FROM customer
        UNION SELECT 0),
      roots AS (
        SELECT v, CASE WHEN v % 50 IN (0, 13, 27, 41) THEN 0 ELSE v % 50 END AS root
        FROM verts)
      SELECT root, COUNT(*) AS n_nodes, MAX(v) AS max_node
      FROM roots GROUP BY 1 ORDER BY root"""
}
