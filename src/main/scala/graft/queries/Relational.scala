package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The relational surface (SURVEY.md §2B): the host-engine constructs the
  * reference's tests/docs exercise, expressed Spark-first (DataFrame API
  * for the core shapes, Spark SQL for the rest) and oracle-checked against
  * DuckDB on the same parquet.
  *
  * Money math goes through exact integer cents (`FLOOR(x*100)::BIGINT`)
  * so engine-order-dependent double summation can never flip a hash.
  */
object Relational {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** floor(x*100) as long — exact cents from a double column. */
  private def cents(c: org.apache.spark.sql.Column) = floor(c * 100).cast("long")

  /** Size-aware fact-join hint (r16): `shuffle_hash` only when the build
    * table is too big to broadcast. The hardcoded hint was tuned at sf10
    * (SHJ beats SMJ there, 6.0→4.4 s — r12) but a hint OVERRIDES the
    * planner, so at small scale it forced a two-sided fact shuffle where
    * a few-MB broadcast wins outright — exactly the size-based choice a
    * cost-based planner makes, keyed on the same statistic Catalyst's
    * own broadcast threshold uses (file size on disk). */
  /** Bloom-enabled child sessions for q05/q61, one per root session (see
    * the q05 banner): keyed on the root so Tables.load's per-session
    * DataFrame cache stays warm across invocations. WEAK-keyed (r18): a
    * child session does not reference its parent, so when an embedding app
    * drops a root session the entry — and the child's Tables.load cache —
    * becomes collectable instead of accumulating for the context's
    * lifetime (the old ConcurrentHashMap only evicted stopped contexts). */
  private val bloomSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Runtime sizing confs that must ride from the root session into the
    * memoized bloom child on EVERY call (Bench re-sizes these per-corpus;
    * advisoryPartitionSizeInBytes added r18 — tune lanes set it on the
    * root and silently measured the default before). */
  private val bloomChildRideAlong = Seq(
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.files.maxPartitionBytes", "spark.sql.files.minPartitionNum",
    "spark.sql.autoBroadcastJoinThreshold")

  /** The shared bloom-enabled child session for q05/q61: runtime
    * bloom-filter injection ON with the application-side scan gate
    * recalibrated from Spark's cluster-sized 10 GB default to the measured
    * 256 MB crossover (below ~256 MB of probe-side scan the per-row
    * might_contain + the bloom-build subquery cost more than the bytes they
    * save — measured at sf1: 1.16 → 1.74 s with the filter forced). A
    * caller-pinned non-default value is honored (PlanShapeSpec pins 1KB to
    * lock the mechanism at spec scale; tune lanes pin 9GB to force it OFF). */
  private[graft] def bloomChildSession(s0: SparkSession): SparkSession = {
    // stopped-context eviction (ADVICE r18): weak keying only collects the
    // entry once the embedding app drops the root reference — a stopped
    // but still-referenced root would otherwise keep its child (and the
    // child's Tables.load DataFrame cache) alive indefinitely. A stopped
    // root's child is NOT re-memoized (r19 code review: remove followed
    // by computeIfAbsent put the dead entry straight back) — the
    // transient child preserves the caller-visible behavior (the query
    // fails at action on the stopped context) without pinning anything.
    val s =
      if (s0.sparkContext.isStopped) { bloomSessions.remove(s0); s0.newSession() }
      else bloomSessions.computeIfAbsent(s0, (root: SparkSession) => root.newSession())
    bloomChildRideAlong.foreach { k =>
      s0.conf.getOption(k).foreach(v => s.conf.set(k, v))
    }
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    val conf = s0.sessionState.conf
    val appThr = SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD
    // r22: detect "caller left the gate at Spark's 10 GB default" by PARSED
    // byte value, not string equality — Spark 4.1 renders the unset default
    // as "10737418240b", so the string compare ("10GB") never matched and
    // the intended 256 MB recalibration silently never happened on the
    // default path: production q05/q61 ran WITHOUT the runtime bloom filter
    // at every corpus ≤ 10 GB (found via plans/r22/q05_join5_agg_sf10 dump;
    // the harness tools set builder-level confs, which masked it). The
    // PlanShapeSpec mechanism lock kept passing because it pins a
    // non-default 1KB threshold — the honored-pin path.
    s.conf.set(appThr.key,
      if (conf.getConf(appThr) == appThr.defaultValue.get) "256MB" else s0.conf.get(appThr.key))
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "5000000")
    // r22: bitmap capped at 16.8M bits = 2 MB (was 134M bits = 16 MB).
    // Spark sizes numBits from the creation side's UNFILTERED row count
    // (15M at sf10 → 120M bits) because the pushed date filter's
    // selectivity is unknown without CBO stats; the actual post-filter
    // key count is ~4.5M. The oversized bitmap put a 1.2 s single-task
    // 8×15 MB merge on the critical path ahead of the fact-scan probe,
    // and a 16 MB probe target falls out of per-core cache for the 60M
    // might_contain calls. 2 MB is L2-resident; measured at sf10
    // (r22, interleaved, 5 quiet rounds): min 3.629 → 3.323 s,
    // best in 4/5 rounds, results identical (the bloom is advisory —
    // false positives drop at the join). Scale-safe: the bloom's
    // operating window is bounded above by creationSideThreshold (512 MB
    // ≈ ≤17M keys), where a 2 MB filter degrades toward pass-through
    // (never toward wrong results); beyond the window Spark disables the
    // filter entirely, so there is no cluster-scale fpp cliff to size for.
    // A caller-pinned non-default value is honored (same contract as the
    // application-side gate above) so measurement harnesses can A/B the
    // cap through the real production path.
    // Parsed like the gate above, never string-compared.
    val bits = SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS
    s.conf.set(bits.key,
      if (conf.getConf(bits) == bits.defaultValue.get) "16777216" else s0.conf.get(bits.key))
    s
  }

  /** True when table `n`'s on-disk size exceeds the session's broadcast
    * threshold — the size test behind [[shuffleHashIfBig]], exposed so a
    * pre-joined subtree can re-apply the hint (hints do not propagate up
    * through added joins). */
  private def bigTable(s: SparkSession, d: String, n: String): Boolean = {
    val thr = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .map {
        case "-1" => 0L // broadcast disabled: every fact table is "big"
        case v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
      }
      .getOrElse(10L << 20)
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(sz).sum).getOrElse(0L)
      else f.length
    sz(new java.io.File(s"$d/$n.parquet")) > thr
  }
  private def shuffleHashIfBig(s: SparkSession, d: String, n: String): DataFrame = {
    val df = t(s, d, n)
    if (bigTable(s, d, n)) df.hint("shuffle_hash") else df
  }

  /** One-time lang-partitioned documents layout shared by q53/q63 — built
    * once per (session, sf dir), like the q59/q60 bucketed-table helper:
    * the partitioned write is the pipeline's WRITE-TIME cost, paid once
    * and amortized over every later pruned read, so the gate queries must
    * not re-pay it per invocation (Verify runs queries concurrently;
    * computeIfAbsent makes the first caller build and the rest wait). */
  private val langLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  private def langPartitionedDocs(s: SparkSession, d: String): String = {
    if (langLayoutCache.size > 64) // drop entries pinned by stopped sessions
      langLayoutCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    langLayoutCache.computeIfAbsent((s, d), { _ =>
      val tmp = graft.queries.TempDirs.create("graft_langpart_")
      t(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      tmp
    })
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q01: TPC-H Q1 shape — scan + filter + groupBy aggregate (map-side
    // partial agg; no shuffle beyond the 6-group exchange)
    QueryDef("q01_agg_pricing", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty_cents",
          floor(col("sum_qty_cents").cast("double") / col("count_order")).cast("long"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(FLOOR(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
             CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
             COUNT(*) AS count_order,
             CAST(FLOOR(CAST(SUM(CAST(FLOOR(l_quantity*100) AS BIGINT)) AS DOUBLE)/COUNT(*)) AS BIGINT) AS avg_qty_cents
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- q02: order-by + limit (top-k, driver gets k rows only)
    QueryDef("q02_topn", (s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(10)
    }, Some("""
      SELECT o_orderkey, CAST(FLOOR(o_totalprice*100) AS BIGINT) AS price_cents
      FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""")),

    // ---- q03: TPC-H Q3 shape — 3-way join, small dim side broadcastable.
    // Lineitem revenue is pre-aggregated by orderkey BEFORE the orders
    // join: the shuffle then carries one narrow row per order instead of
    // ~4 wide lineitem rows, and the orderkey join reuses the aggregate's
    // partitioning (measured 2.0x at sf10 in r12; VERDICT r2 item 7).
    // Trade-off documented there: this aggregates lineitem for orders the
    // date/segment filter later drops, the right trade when the filter is
    // non-selective (here <1999-01-01 keeps nearly all orders); a highly
    // selective filter would favor join-first. Both shapes keep the
    // fact-fact shuffle on orderkey that survives 100 TB.
    QueryDef("q03_join_topn", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      // r21: SHUFFLE_HASH on the orders side of the orderkey join. The
      // planner broadcast-joined orders wherever its estimate fit (sf<=1),
      // but orders scales WITH the corpus — collecting a fact-scaled
      // relation to the driver and re-shipping it per executor is the
      // wrong shape at every scale, and the lrev side is ALREADY hash-
      // partitioned on l_orderkey by the aggregate's exchange, so the
      // hash join adds only the orders-side exchange (A/B interleaved,
      // r21: sf1 min 1.08 -> 0.72 s across two sittings, sf0.1
      // med 0.76 -> 0.72 s). SHJ build side spills/AQE-skew-splits the
      // same as q05's hinted joins at cluster scale.
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .hint("shuffle_hash")
      val lrev = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      lrev.join(o, col("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("l_orderkey"), col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey"))
        .limit(10)
    }, Some("""
      SELECT l_orderkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY l_orderkey ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""")),

    // ---- q04: TPC-H Q4 shape — EXISTS correlated subquery (→ semi join)
    QueryDef("q04_exists_agg", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q05: TPC-H Q5 shape — 6-way join through the star schema,
    // dims broadcast, fact-fact shuffle on orderkey. The two shuffle joins
    // are hinted SHUFFLE_HASH: both build sides (date-filtered orders,
    // customer) are the strictly smaller relation, so hashing one
    // partition of them always fits where the sort-merge sort buffers
    // would, and skipping both sorts is measured 6.0 -> 4.4 s at sf10
    // (r12). AQE skew-split applies to shuffled hash joins too, so
    // the 100 TB skew story is unchanged.
    //
    // r17: runtime bloom-filter injection is ON for this query (q61's
    // mechanism, same stand-in discipline: the 10 GB application-side scan
    // gate is sized for clusters and is met naturally by any real fact
    // table — lowered here so the optimizer sees probe-scale lineitem the
    // way it would see the 100 TB scan). The date filter on orders kills
    // ~70% of orderkeys, so might_contain at the lineitem scan drops those
    // rows BEFORE the fact exchange: measured 831→496 MB shuffled and
    // best 5.3→4.4 s at sf10m (r17 q05 lane, interleaved). The
    // application-side gate is recalibrated (10 GB → 256 MB), not
    // disabled: below ~256 MB of probe-side scan the per-row
    // might_contain + the bloom-build subquery cost more than the bytes
    // they save (measured at sf1: 1.16 → 1.74 s with the filter forced),
    // so Spark's own sizing logic keeps the filter off at gate scale and
    // on for sf10m/cluster facts — the same crossover discipline as
    // Bench's AQE-above-256MB rule.
    QueryDef("q05_join5_agg", (s0, d) => {
      // ONE bloom session per root session, not per invocation: Tables.load
      // caches per session, so a fresh newSession each call re-reads every
      // parquet footer and re-analyzes (~0.4 s/invocation at sf0.1 —
      // measured as a 0.31→1.05 s q05 regression before memoizing).
      // Session setup shared with q61 (bloomChildSession).
      val s = bloomChildSession(s0)
      val r = t(s, d, "region"); val n = t(s, d, "nation")
      // r21 A/B (interleaved in one JVM): pre-joining
      // nation/region INTO customer (dims probed per customer row, 2
      // fewer BHJs on the fact path) measured SLOWER at bench scale
      // (sf0.1 med 0.69 -> 0.82 s; sf1 a wash) — the nested broadcasts
      // serialize (n -> r -> c build chain) where this flat shape builds
      // all five broadcast relations concurrently, and the build critical
      // path, not per-row probe count, rules at these sizes. Kept flat.
      val c = shuffleHashIfBig(s, d, "customer")
      val o = shuffleHashIfBig(s, d, "orders")
      val su = t(s, d, "supplier")
      // rev_cents is computed AT THE SCAN, before the fact exchange: the
      // orderkey shuffle then carries (orderkey, suppkey, rev_cents) —
      // three longs instead of two longs + two doubles — and the money
      // math runs once scan-side instead of post-join (r16; the q59
      // layout materializes the same column at write time)
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
      // r22 (guide §1.2 per-row work, VERDICT r21 #3): the nation and
      // region probes moved ABOVE the aggregate. Grouping by c_nationkey
      // (int) instead of n_name (string) and joining the pre-joined 25-row
      // nation⋈region dim onto the 25-row AGGREGATE removes two broadcast
      // probes + a string group key from every fact row; inner-join-
      // after-agg drops exactly the groups inner-join-before-agg would
      // have dropped row-wise (n_nationkey is unique), so the result is
      // identical — oracle-verified. nation⋈region is dim⋈dim (25x5):
      // its build nests, but at nanosecond cost, unlike the rejected
      // dims-into-customer pre-join above.
      val nr = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(c,
          o("o_custkey") === c("c_custkey") && su("s_nationkey") === c("c_nationkey"))
        .filter(o("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          o("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("rev_cents")).as("revenue_cents"))
        .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("revenue_cents"))
        .orderBy(col("n_name"))
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""")),

    // ---- q06: TPC-H Q6 shape — selective scan, pushdown-friendly predicate
    QueryDef("q06_selective_sum", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
          count(lit(1)).as("n"))
    }, Some("""
      SELECT CAST(SUM(CAST(FLOOR(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // ---- q07: window row_number over a unique ordering
    QueryDef("q07_window_rownum", (s, d) => {
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2 && col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("rn"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, rn FROM (
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
        FROM lineitem) WHERE rn <= 2 AND l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- q08: running sum window (exact cents so frame order can't drift)
    QueryDef("q08_window_running", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").filter(col("o_custkey") <= 100)
        .withColumn("running_cents", sum(cents(col("o_totalprice"))).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("running_cents"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(FLOOR(o_totalprice*100) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey""")),

    // ---- q09/q10: set operations. The EXCEPT sides are acctbal-filtered
    // (>9500) so the difference is genuinely non-empty at sf0.01 (21 rows)
    // — every nation has both customers and suppliers, so the unfiltered
    // version returns 0 rows and a 0=0 hash proves only schema (VERDICT r4
    // finding 1).
    QueryDef("q09_setops_except", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_acctbal") > 9500)
        .select(col("c_nationkey").as("k")).distinct()
      val su = t(s, d, "supplier").filter(col("s_acctbal") > 9500)
        .select(col("s_nationkey").as("k")).distinct()
      c.except(su).orderBy("k")
    }, Some("""
      SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_acctbal > 9500
      EXCEPT SELECT DISTINCT s_nationkey AS k FROM supplier WHERE s_acctbal > 9500 ORDER BY k""")),

    QueryDef("q10_setops_intersect", (s, d) => {
      val c = t(s, d, "customer").select(col("c_nationkey").as("k")).distinct()
      val su = t(s, d, "supplier").select(col("s_nationkey").as("k")).distinct()
      c.intersect(su).orderBy("k")
    }, Some("""
      SELECT DISTINCT c_nationkey AS k FROM customer
      INTERSECT SELECT DISTINCT s_nationkey AS k FROM supplier ORDER BY k""")),

    // ---- q11: multi-CTE chain (reference idiom, FUNCTIONS.md:165-177)
    QueryDef("q11_cte_above_avg", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        WITH nat_avg AS (
          SELECT c_nationkey,
                 CAST(FLOOR(AVG(CAST(FLOOR(c_acctbal*100) AS BIGINT))) AS BIGINT) AS avg_cents
          FROM customer GROUP BY c_nationkey),
        rich AS (
          SELECT c.c_custkey, c.c_nationkey
          FROM customer c JOIN nat_avg a ON c.c_nationkey = a.c_nationkey
          WHERE CAST(FLOOR(c.c_acctbal*100) AS BIGINT) > a.avg_cents)
        SELECT c_nationkey, COUNT(*) AS n_above FROM rich
        GROUP BY c_nationkey ORDER BY c_nationkey""")
    }, Some("""
      WITH nat_avg AS (
        SELECT c_nationkey,
               CAST(FLOOR(AVG(CAST(FLOOR(c_acctbal*100) AS BIGINT))) AS BIGINT) AS avg_cents
        FROM customer GROUP BY c_nationkey),
      rich AS (
        SELECT c.c_custkey, c.c_nationkey
        FROM customer c JOIN nat_avg a ON c.c_nationkey = a.c_nationkey
        WHERE CAST(FLOOR(c.c_acctbal*100) AS BIGINT) > a.avg_cents)
      SELECT c_nationkey, COUNT(*) AS n_above FROM rich
      GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- q12: CASE WHEN aggregation (TPC-H Q12 shape)
    QueryDef("q12_casewhen_priority", (s, d) => {
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("high_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("low_count"))
        .orderBy("yr")
    }, Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
      FROM orders GROUP BY 1 ORDER BY yr""")),

    // ---- q13: LIKE + IN + grouping
    QueryDef("q13_like_in_grouping", (s, d) => {
      t(s, d, "part")
        .filter(col("p_type").like("%ECO%") ||
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(cents(col("p_retailprice"))).as("retail_cents"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(p_retailprice*100) AS BIGINT)) AS BIGINT) AS retail_cents
      FROM part WHERE p_type LIKE '%ECO%' OR p_brand IN ('Brand#1','Brand#2','Brand#3')
      GROUP BY p_brand ORDER BY p_brand""")),

    // ---- q14: cross join (comma-list idiom, age.test:109)
    QueryDef("q14_crossjoin_regions", (s, d) => {
      val r1 = t(s, d, "region").select(col("r_name").as("a"))
      val r2 = t(s, d, "region").select(col("r_name").as("b"))
      r1.crossJoin(r2).filter(col("a") < col("b")).orderBy("a", "b")
    }, Some("""
      SELECT r1.r_name AS a, r2.r_name AS b FROM region r1, region r2
      WHERE r1.r_name < r2.r_name ORDER BY a, b""")),

    // ---- q15: struct literal + field extraction + 1-based list indexing
    // (DuckDB (s).f / l[1] idioms — Spark: named_struct / element_at)
    QueryDef("q15_struct_array_ops", (s, d) => {
      t(s, d, "nation")
        .withColumn("st", struct(col("n_name").as("name"), col("n_regionkey").as("rk")))
        .withColumn("arr", array(col("n_nationkey"), col("n_regionkey")))
        .select(
          col("st.name").as("name"),
          element_at(col("arr"), 1).as("first_elem"),
          element_at(col("arr"), -1).as("last_elem"),
          size(col("arr")).as("arr_len"))
        .orderBy("name")
    }, Some("""
      SELECT n_name AS name, n_nationkey AS first_elem, n_regionkey AS last_elem,
             2 AS arr_len
      FROM nation ORDER BY name""")),

    // ---- q16: table generator (generate_series ↔ explode(sequence))
    QueryDef("q16_series_explode", (s, d) => {
      s.range(1, 6).select(col("id").as("i"))
        .withColumn("sq", col("i") * col("i"))
        .orderBy("i")
    }, Some("""
      SELECT CAST(i AS BIGINT) AS i, CAST(i*i AS BIGINT) AS sq
      FROM generate_series(1, 5) t(i) ORDER BY i""")),

    // ---- q17: array_agg / collect_list with stable ordering
    QueryDef("q17_array_agg_strings", (s, d) => {
      t(s, d, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy("n_regionkey")
    }, Some("""
      SELECT n_regionkey, array_to_string(list_sort(array_agg(n_name)), ',') AS nations
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ---- q18: anti join (NOT EXISTS). Orders are date-filtered (>= 1998)
    // so some customers genuinely lack matches: every customer has SOME
    // order in the generator, so the unfiltered anti join returned 0 rows
    // — trivially green (VERDICT r4 finding 1). 8 customers at sf0.01.
    QueryDef("q18_anti_join", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_without_orders"))
        .orderBy("c_nationkey")
    }, Some("""
      SELECT c_nationkey, COUNT(*) AS n_without_orders
      FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- q19: left outer join with zero-count preservation
    QueryDef("q19_left_join_counts", (s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") <= 200)
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      WHERE c_custkey <= 200 GROUP BY c_custkey ORDER BY c_custkey""")),

    // ---- q20: date functions + monthly rollup
    QueryDef("q20_month_rollup", (s, d) => {
      t(s, d, "orders")
        .withColumn("ym", (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy("ym")
    }, Some("""
      SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INTEGER) AS ym,
             COUNT(*) AS n, CAST(SUM(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders GROUP BY 1 ORDER BY ym""")),

    // ---- q21: string functions (||, length, upper, substr, LIKE)
    QueryDef("q21_string_funcs", (s, d) => {
      t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(
          col("c_custkey"),
          concat(upper(col("c_mktsegment")), lit(":"), col("c_name")).as("tag"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("prefix"),
          col("c_name").like("%1%").as("has_one"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, upper(c_mktsegment) || ':' || c_name AS tag,
             CAST(length(c_name) AS INTEGER) AS name_len,
             substr(c_name, 1, 8) AS prefix, c_name LIKE '%1%' AS has_one
      FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""")),

    // ---- q22: VARCHAR↔BLOB casts + md5 over binary (BLOB machinery, §2B)
    QueryDef("q22_binary_md5", (s, d) => {
      t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(
          col("c_custkey"),
          md5(col("c_name").cast("binary")).as("name_md5"),
          length(col("c_name").cast("binary")).as("byte_len"),
          col("c_name").cast("binary").cast("string").as("roundtrip"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, md5(c_name) AS name_md5,
             CAST(octet_length(CAST(c_name AS BLOB)) AS INTEGER) AS byte_len,
             CAST(CAST(c_name AS BLOB) AS VARCHAR) AS roundtrip
      FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""")),

    // ---- q23: exact + grouped count distinct — written as STANDARD
    // countDistinct; the injected optimizer rule (graft.plans
    // .RewriteExactDistinctToBitmap) turns it into the paged-bitmap
    // single-pass ObjectHashAggregate: no Expand, the shuffle carries
    // kilobytes of bitmap pages per group instead of one row per
    // (group, value), both distinct columns in ONE aggregate. Plan shape
    // locked by PlanShapeSpec; semantics identical (oracle unchanged).
    QueryDef("q23_count_distinct", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT l_partkey) AS n_part
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q24: JSON extraction from the events props column
    QueryDef("q24_json_extract", (s, d) => {
      Tables.load(s, d, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT event_type,
               SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
               COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")
    }, Some("""
      SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- q26: ROLLUP grouping sets over the region/nation hierarchy
    QueryDef("q26_rollup", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
               COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY region, nation""")
    }, Some("""
      SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
             COUNT(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region, nation""")),

    // ---- q33: CUBE — all grouping-set combinations (the ROLLUP sibling)
    QueryDef("q33_cube", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")),

    // ---- q34: HyperLogLog approximate distinct — the sketch tier for
    // 100 TB cardinalities where exact count-distinct's expand+shuffle is
    // the bottleneck (q23's cost). Engines use different sketches, so the
    // oracle is the accuracy INVARIANT both must satisfy (relative error
    // < 5% vs exact), not the sketch value itself. The Spark sketch is
    // requested at rsd=0.01 (r18): the DEFAULT rsd is exactly 0.05, so at
    // sf10 cardinality (~2M distinct partkeys) the default sketch's own
    // 1-sigma band crosses the 5% gate — caught by the first full sf10
    // sweep (the only sf where it fires; sf0.01/sf1 cardinalities sit in
    // HLL++'s near-exact regime). Requesting 5× the precision of the
    // asserted tolerance is the production posture, not a gate tweak.
    QueryDef("q34_approx_distinct", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT ABS(approx_count_distinct(l_partkey, 0.01D) - COUNT(DISTINCT l_partkey))
                 / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) < 0.05 AS part_ok,
               ABS(approx_count_distinct(l_suppkey, 0.01D) - COUNT(DISTINCT l_suppkey))
                 / CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) < 0.05 AS supp_ok
        FROM lineitem""")
    }, Some("""
      SELECT ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
               / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) < 0.05 AS part_ok,
             ABS(approx_count_distinct(l_suppkey) - COUNT(DISTINCT l_suppkey))
               / CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) < 0.05 AS supp_ok
      FROM lineitem""")),

    // ---- q29: HAVING + UNION ALL (completes the set-op/grouping surface)
    QueryDef("q29_having_unionall", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT 'big' AS bucket, c_nationkey, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 60
        UNION ALL
        SELECT 'small' AS bucket, c_nationkey, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey HAVING COUNT(*) < 60
        ORDER BY bucket, c_nationkey""")
    }, Some("""
      SELECT 'big' AS bucket, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 60
      UNION ALL
      SELECT 'small' AS bucket, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY c_nationkey HAVING COUNT(*) < 60
      ORDER BY bucket, c_nationkey""")),

    // ---- q28: skew-mitigation pattern — salted join. The salt fans the
    // build side out 8x and co-partitions the probe side by (key, salt),
    // splitting any hot key across 8 reducers; the result is provably
    // identical to the plain join (the oracle IS the plain join).
    QueryDef("q28_salted_join", (s, d) => {
      val SALT = 8
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          (col("l_linenumber") % SALT).as("salt"))
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          explode(sequence(lit(0), lit(SALT - 1))).as("salt"))
      l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q27: gap-based sessionization via window lag + running sum —
    // the batch twin of StreamingOps.sessionize (flatMapGroupsWithState)
    QueryDef("q27_sessionize", (s, d) => {
      Tables.load(s, d, "events").createOrReplaceTempView("events")
      s.sql("""
        WITH marked AS (
          SELECT user_id, event_id, unix_millis(ts) AS tms,
                 CASE WHEN unix_millis(ts) -
                      LAG(unix_millis(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                      > 1800000 THEN 1 ELSE 0 END AS boundary
          FROM events),
        sessions AS (
          SELECT user_id, event_id, tms,
                 SUM(boundary) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_idx
          FROM marked)
        SELECT user_id, session_idx, COUNT(*) AS n_events,
               MAX(tms) - MIN(tms) AS dur_ms
        FROM sessions WHERE user_id <= 50
        GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")
    }, Some("""
      WITH marked AS (
        SELECT user_id, event_id, epoch_ms(ts) AS tms,
               CASE WHEN epoch_ms(ts) -
                    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                    > 1800000 THEN 1 ELSE 0 END AS boundary
        FROM events),
      sessions AS (
        SELECT user_id, event_id, tms,
               CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_idx
        FROM marked)
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             MAX(tms) - MIN(tms) AS dur_ms
      FROM sessions WHERE user_id <= 50
      GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")),

    // ---- q25: tumbling-window aggregation over the event stream (batch
    // equivalent of the Structured Streaming pipeline in graft.streaming).
    // The hour bucket is computed on the RAW nanos long (one integer div
    // per row) and materialized as a timestamp only on the ~hundreds of
    // aggregated group keys — skipping the per-row nanos→micros
    // normalization + date_trunc chain that made this the one >2× sf10
    // line with an obvious fix (VERDICT r4 perf audit). Events timestamps
    // are post-1970 so the floor div equals date_trunc('hour').
    QueryDef("q25_events_hourly", (s, d) => {
      val raw = Tables.loadRaw(s, d, "events")
      val bucketed =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.groupBy(expr("ts div 3600000000000").as("hb"), col("event_type"))
        else // ts already a timestamp (non-nanos writer; may be NTZ) — same
          // buckets. Sessions run UTC, so the NTZ→TZ cast is the identity.
          Tables.load(s, d, "events")
            .groupBy(expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hb"),
              col("event_type"))
      bucketed
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(timestamp_micros(col("hb") * lit(3600000000L)).as("hour"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy("hour", "event_type")
    }, Some("""
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- q30: current_timestamp / current_date (FUNCTIONS.md:369, 460 —
    // last open §2B row). The values are wall-clock, so the projection is
    // sanity-bounded invariants (crypto-query determinism pattern, §5.4):
    // both engines project constant true and the oracle states it.
    QueryDef("q30_current_ts", (s, d) => {
      s.sql("""
        SELECT current_date() >= DATE'2026-01-01' AS date_ok,
               current_timestamp() >= CAST(current_date() AS TIMESTAMP) AS ts_ok,
               current_timestamp() < CAST(date_add(current_date(), 1) AS TIMESTAMP)
                 AS ts_in_day""")
    }, Some("SELECT true AS date_ok, true AS ts_ok, true AS ts_in_day")),

    // ---- q31: AS-OF join — each purchase matched to the user's most
    // recent prior (or simultaneous) click. Spark has no native as-of
    // join; the scale-correct composition is a tagged union + running
    // `last(..., ignoreNulls)` window — ONE shuffle on user_id, no
    // self-join, no range explosion. (Composition tier (a) of the custom-
    // operator ladder; a custom SparkPlan would buy nothing here.)
    QueryDef("q31_asof_join", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("tms"),
          coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"))
        .orderBy("purchase_id")
    }, Some("""
      SELECT user_id, event_id AS purchase_id, tms,
             COALESCE(last_click_id, -1) AS last_click_id
      FROM (
        SELECT user_id, event_id, epoch_ms(ts) AS tms, event_type,
               LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
        FROM events WHERE event_type IN ('click', 'purchase'))
      WHERE event_type = 'purchase'
      ORDER BY purchase_id""")),

    // ---- q32: range join — clicks within 10 minutes before each purchase,
    // per user. Naive form is an inequality join (cartesian per user);
    // the scale path buckets time into gap-sized cells and equi-joins on
    // (user_id, bucket) with the purchase probing its own and the previous
    // bucket — fan-out is bounded by events-per-bucket, never n² per user.
    // DuckDB's oracle states the same result via its native IEJoin.
    QueryDef("q32_range_join", (s, d) => {
      val gapMs = 600000L
      val e = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("tms").as("ctms"),
          floor(col("tms") / gapMs).as("bucket"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("tms").as("ptms"),
          explode(array(floor(col("tms") / gapMs) - 1, floor(col("tms") / gapMs)))
            .as("bucket"))
      purchases.join(clicks, Seq("user_id", "bucket"))
        .filter(col("ctms") >= col("ptms") - gapMs && col("ctms") <= col("ptms"))
        .groupBy(col("user_id"), col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
        .orderBy("purchase_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS purchase_id, COUNT(*) AS n_clicks,
             MIN(c.event_id) AS first_click_id
      FROM (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
            WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
            WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.tms >= p.tms - 600000 AND c.tms <= p.tms
      GROUP BY 1, 2 ORDER BY purchase_id""")),

    // ---- q35: MERGE/upsert re-expressed for an immutable store (VERDICT
    // r2 "What's missing #3"): matched rows take the source's value, new
    // rows are inserted — ONE full-outer shuffle join on the key, the
    // shape a lakehouse MERGE compiles to at 100 TB (no per-row mutation).
    QueryDef("q35_merge_upsert", (s, d) => {
      val c = t(s, d, "customer")
      val src = c.filter(col("c_custkey") <= 50)
        .select(col("c_custkey"), lit("MERGED").as("seg"))
        .unionByName(s.range(1, 6)
          .select((col("id") + 9000000L).as("c_custkey"), lit("NEWSEG").as("seg")))
      c.as("t").join(src.as("u"), col("t.c_custkey") === col("u.c_custkey"), "full_outer")
        .select(coalesce(col("u.c_custkey"), col("t.c_custkey")).as("k"),
          coalesce(col("u.seg"), col("t.c_mktsegment")).as("segment"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"))
        .orderBy("segment")
    }, Some("""
      WITH src AS (
        SELECT c_custkey, 'MERGED' AS seg FROM customer WHERE c_custkey <= 50
        UNION ALL
        SELECT 9000000 + i AS c_custkey, 'NEWSEG' AS seg
        FROM (SELECT unnest(generate_series(1, 5)) AS i)),
      merged AS (
        SELECT COALESCE(u.c_custkey, t.c_custkey) AS k,
               COALESCE(u.seg, t.c_mktsegment) AS segment
        FROM customer t FULL OUTER JOIN src u ON t.c_custkey = u.c_custkey)
      SELECT segment, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
      FROM merged GROUP BY 1 ORDER BY segment""")),

    // ---- q36: exact percentiles per group (percentile_cont semantics —
    // linear interpolation over the sorted set in both engines)
    QueryDef("q36_quantiles", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          floor(expr("percentile(l_quantity, 0.5D)") * 100).cast("long").as("p50_x100"),
          floor(expr("percentile(l_quantity, 0.9D)") * 100).cast("long").as("p90_x100"),
          floor(expr("percentile(l_extendedprice, 0.99D)") * 100).cast("long").as("p99_price_x100"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             CAST(FLOOR(quantile_cont(l_quantity, 0.5)*100) AS BIGINT) AS p50_x100,
             CAST(FLOOR(quantile_cont(l_quantity, 0.9)*100) AS BIGINT) AS p90_x100,
             CAST(FLOOR(quantile_cont(l_extendedprice, 0.99)*100) AS BIGINT) AS p99_price_x100
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- q37: approximate percentile sketch with an accuracy-invariant
    // oracle (q34 HLL pattern): the 100 TB tier for quantiles, asserted
    // within 1% of exact so the gate verifies the sketch's usefulness,
    // not a bit pattern the two engines could never share.
    QueryDef("q37_approx_quantile", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5D)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("a50"))
        .select(col("l_returnflag"),
          (abs(col("a50") - col("p50")) / col("p50") <= 0.01).as("p50_ok"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, true AS p50_ok
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- q38: PIVOT — wide per-status counts via Spark's native pivot
    // (values listed explicitly so no driver-side distinct pass runs);
    // the oracle states the same thing engine-neutrally as CASE sums.
    QueryDef("q38_pivot", (s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
          col("P").as("n_p"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      FROM orders GROUP BY 1 ORDER BY o_orderpriority""")),

    // ---- q39: explicit GROUPING SETS (the general form ROLLUP/CUBE are
    // sugar for) — two unrelated groupings plus the grand total in one
    // pass over orders (Spark expands via a single Expand node, one scan)
    QueryDef("q39_grouping_sets", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    }, Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority""")),

    // ---- q40: correlated LATERAL subquery — top-2 customers by balance
    // per nation. Catalyst decorrelates the LATERAL into a ranked
    // window join (one shuffle on the correlation key), so the per-outer-
    // row "loop" never executes as a loop — same plan class DuckDB picks.
    QueryDef("q40_lateral_topn", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        SELECT n_name, c.c_custkey, c.bal_cents
        FROM nation,
        LATERAL (
          SELECT c_custkey, CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        ORDER BY n_name, c.bal_cents DESC, c.c_custkey""")
    }, Some("""
      SELECT n_name, c.c_custkey, c.bal_cents
      FROM nation,
      LATERAL (
        SELECT c_custkey, CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
      ORDER BY n_name, c.bal_cents DESC, c.c_custkey""")),

    // ---- q41: ranking-function family — ntile/percent_rank/cume_dist
    // over one window (completes the window surface beyond row_number/
    // lag/last: the quantile-bucketing shape feature stores use)
    QueryDef("q41_rank_family", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_nationkey").cast("int").as("nat"),
          ntile(4).over(w).as("quartile"),
          floor(percent_rank().over(w) * 10000).cast("long").as("pr_x1e4"),
          floor(cume_dist().over(w) * 10000).cast("long").as("cd_x1e4"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, CAST(c_nationkey AS INTEGER) AS nat,
             CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
             CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS BIGINT) AS pr_x1e4,
             CAST(FLOOR(CUME_DIST() OVER w * 10000) AS BIGINT) AS cd_x1e4
      FROM customer WHERE c_custkey <= 500
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""")),

    // ---- q42: RANGE-frame rolling window — events in the trailing 10
    // minutes per user by VALUE range over event-time millis (not row
    // count), the time-series rolling-feature shape. Numeric range frames
    // exist in both engines; millis keep the bounds integer-exact.
    QueryDef("q42_range_frame", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tms"))
        .rangeBetween(-600000L, 0L)
      Tables.load(s, d, "events")
        .filter(col("user_id") <= 20)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"))
        .withColumn("n_10min", count(lit(1)).over(w))
        .withColumn("sum_ids_10min", sum(col("event_id")).over(w))
        .orderBy("user_id", "tms", "event_id")
    }, Some("""
      SELECT user_id, event_id, epoch_ms(ts) AS tms,
             COUNT(*) OVER w AS n_10min,
             CAST(SUM(event_id) OVER w AS BIGINT) AS sum_ids_10min
      FROM events WHERE user_id <= 20
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, tms, event_id""")),

    // ---- q43: UNPIVOT/melt — wide per-flag aggregates reshaped to long
    // (metric, value) rows via stack() (Spark's unpivot primitive, one
    // Expand over the 3-row aggregate). Oracle states the reshape
    // engine-neutrally as UNION ALL.
    QueryDef("q43_unpivot", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(floor(col("l_quantity")).cast("long")).as("qty"),
          count(lit(1)).as("n_rows"))
        .selectExpr("l_returnflag",
          "stack(3, 'price_cents', price_cents, 'qty', qty, 'n_rows', n_rows) AS (metric, value)")
        .orderBy("l_returnflag", "metric")
    }, Some("""
      WITH agg AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'price_cents' AS metric, price_cents AS value FROM agg
        UNION ALL SELECT l_returnflag, 'qty', qty FROM agg
        UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM agg)
      ORDER BY l_returnflag, metric""")),

    // ---- q44: MIXED exact distinct — integral, DATE, and string distinct
    // counts in ONE aggregate. The injected bitmap rule rewrites the
    // integral and date distincts to single-pass bitmap aggregates; the
    // string distinct is the only remaining distinct group, which Spark
    // plans without an Expand (planAggregateWithOneDistinct). So standard
    // SQL with three distinct types costs zero Expands — with the rule
    // off, this plan duplicates every lineitem row 3× through an Expand.
    // Plan shape locked in RewriteRuleSpec + PlanShapeSpec.
    QueryDef("q44_mixed_distinct", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_shipdate").cast("date")).as("n_days"),
          countDistinct(col("l_linestatus")).as("n_status"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS n_days,
             COUNT(DISTINCT l_linestatus) AS n_status, COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q45: RECURSIVE CTE (Spark 4's UnionLoop) — an 84-month calendar
    // generated by recursion, LEFT JOINed to per-month order aggregates so
    // months with no orders survive with zeros. Integer-only recursion
    // arithmetic (FLOOR div, %) keeps both engines bit-identical; the
    // recursion itself is driver-cheap (84 iterations of a 1-row step)
    // while the joined aggregate stays a distributed hash aggregate — the
    // shape that matters at scale is unchanged.
    QueryDef("q45_recursive_cte", (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""
        WITH RECURSIVE months(i) AS (
          SELECT 0 UNION ALL SELECT i + 1 FROM months WHERE i < 83
        ),
        cal AS (
          SELECT 1992 + CAST(FLOOR(i / 12) AS INT) AS y, 1 + i % 12 AS mo
          FROM months
        ),
        omo AS (
          SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS mo,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
          FROM orders GROUP BY 1, 2
        )
        SELECT CAST(c.y AS BIGINT) AS y, CAST(c.mo AS BIGINT) AS mo,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(total_cents, 0) AS total_cents
        FROM cal c LEFT JOIN omo ON c.y = omo.y AND c.mo = omo.mo
        ORDER BY y, mo""")
    }, Some("""
      WITH RECURSIVE months(i) AS (
        SELECT 0 UNION ALL SELECT i + 1 FROM months WHERE i < 83
      ),
      cal AS (
        SELECT 1992 + CAST(FLOOR(i / 12) AS INT) AS y, 1 + i % 12 AS mo
        FROM months
      ),
      omo AS (
        SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS mo,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders GROUP BY 1, 2
      )
      SELECT CAST(c.y AS BIGINT) AS y, CAST(c.mo AS BIGINT) AS mo,
             COALESCE(n_orders, 0) AS n_orders,
             COALESCE(total_cents, 0) AS total_cents
      FROM cal c LEFT JOIN omo ON c.y = omo.y AND c.mo = omo.mo
      ORDER BY y, mo""")),

    // ---- q46: DISTINCT ON — DuckDB's pick-one-row-per-key idiom (latest
    // order per customer). Spark has no DISTINCT ON; the idiomatic
    // re-expression is a row_number window with the same (key, order)
    // spec. Deterministic via the o_orderkey tiebreak. The window
    // partitions by o_custkey — one shuffle on the key, same as the
    // DISTINCT ON hash table at scale.
    QueryDef("q46_distinct_on", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("last_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("last_cents"))
        .orderBy("o_custkey")
    }, Some("""
      SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey AS last_orderkey,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS last_cents
      FROM orders
      ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""")),

    // ---- q47: higher-order list functions (transform / filter /
    // aggregate lambdas) — the host-engine list-processing surface beyond
    // q15's indexing: per-row lambda evaluation inside codegen, no
    // explode, no shuffle. Element math goes through the integer
    // quantization so the fold is order-independent and engine-exact.
    QueryDef("q47_list_hof", (s, d) => {
      t(s, d, "embeddings")
        .filter(col("vec_id") < 500)
        .select(col("vec_id"),
          size(expr("filter(embedding, x -> x > 0)")).as("n_pos"),
          expr("""aggregate(
                    transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                    CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as("qsum"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id,
             CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INTEGER) AS n_pos,
             CAST(list_aggregate(list_transform(embedding::DOUBLE[],
               x -> CAST(FLOOR(x * 1000) AS BIGINT)), 'sum') AS BIGINT) AS qsum
      FROM embeddings WHERE vec_id < 500 ORDER BY vec_id""")),

    // ---- q48: LOCF gap-fill (last observation carried forward) — the
    // IGNORE NULLS window-frame idiom every feature-engineering pipeline
    // uses: each event row carries the most recent purchase value its user
    // has produced so far (NULL-skipping last_value over a running frame).
    // One shuffle on user_id, then a sorted running scan per partition —
    // the same shape at 100 TB (user_id partitioning bounds per-task
    // state to one user's history). Cents quantization (SURVEY §5.4).
    QueryDef("q48_locf_gapfill", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events").filter(col("user_id") <= 50)
        .withColumn("pv", when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")))
        .select(col("user_id"), col("event_id"),
          coalesce(last(col("pv"), ignoreNulls = true).over(w), lit(-1L))
            .as("last_purchase_cents"))
        .orderBy("user_id", "event_id")
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100) AS BIGINT) END AS pv
        FROM events WHERE user_id <= 50)
      SELECT user_id, event_id,
             COALESCE(LAST_VALUE(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
               AS last_purchase_cents
      FROM e ORDER BY user_id, event_id""")),

    // ---- q49: FILTER-clause aggregates — the SQL-standard conditional
    // aggregation idiom (one pass, N predicates) that replaces N
    // self-joins or CASE pyramids: every FILTER'd aggregate is still one
    // map-side-combined hash aggregate over a single scan, so the 100 TB
    // cost is one pass regardless of how many conditional metrics ride it.
    QueryDef("q49_filtered_agg", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               COALESCE(CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                 FILTER (WHERE l_tax > 0.04) AS BIGINT), 0)
                 AS taxed_cents
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }, Some("""
      SELECT l_returnflag,
             COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
             COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
             COALESCE(CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
               FILTER (WHERE l_tax > 0.04) AS BIGINT), 0)
               AS taxed_cents
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q50: GROUP BY ALL — the modern-SQL ergonomic idiom (DuckDB
    // popularized it; Spark 4 supports it): every non-aggregate select
    // item becomes a grouping key. Planner sugar only — the physical plan
    // is the same map-side-combined two-phase aggregate as writing the
    // keys out, so it is free at any scale. Same SQL text runs on both
    // engines verbatim.
    QueryDef("q50_group_by_all", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders GROUP BY ALL ORDER BY o_orderstatus, o_orderpriority""")
    }, Some("""
      SELECT o_orderstatus, o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders GROUP BY ALL ORDER BY o_orderstatus, o_orderpriority"""))
    ,

    // ---- q51: BUCKETED co-located join — the storage-layout answer to
    // q05's measured residual (the fact-fact exchange): both facts are
    // written bucketed on the join key (8 buckets, sorted within), and the
    // join then reads both sides already distributed — the physical plan
    // has ZERO Exchange below the join (locked in PlanShapeSpec). This is
    // the 100 TB pattern for a join that repeats across a pipeline: pay
    // the shuffle ONCE at write time, amortize it over every later join
    // on that key. `.hint("merge")` keeps the demo honest at toy scale
    // (the small side would otherwise broadcast and skip co-location).
    // Fixed table names + overwrite: invocations are sequential (one
    // Verify worker owns a query) and only q51 touches these tables.
    QueryDef("q51_bucketed_join", (s, d) => {
      val lt = "graft_bucketed_lineitem"; val ot = "graft_bucketed_orders"
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
      s.table(lt)
        .join(s.table(ot).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q52: ORC round-trip — the second columnar format Spark ships
    // natively (a user migrating an ORC-based warehouse keeps their
    // layout): the Q1-shape pricing aggregate computed over an ORC copy of
    // lineitem must equal the parquet oracle exactly, proving the ORC
    // reader preserves decimals/doubles/strings bit-for-bit through the
    // writer→reader path. Column pruning reaches ORC scans the same way
    // it reaches parquet (ReadSchema on the FileScan orc node).
    QueryDef("q52_orc_io", (s, d) => {
      val tmp = graft.queries.TempDirs.create("graft_orc_")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q53: PARTITION PRUNING over a hive-partitioned layout — the
    // first-order 100 TB technique none of the flat-file gate queries can
    // show: documents written partitionBy(lang), then a one-lang query
    // whose predicate resolves at PLANNING time to a directory listing —
    // the scan's PartitionFilters prunes 4 of 5 directories and the other
    // 80% of the corpus is never opened (plan-locked in PlanShapeSpec).
    // Results equal the oracle's WHERE over the unpartitioned table, and
    // the partition column round-trips through the directory encoding.
    QueryDef("q53_partitioned_pruning", (s, d) => {
      val tmp = langPartitionedDocs(s, d) // shared one-time layout (q63 too)
      s.read.parquet(tmp)
        .filter(col("lang") === "en")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             MIN(doc_id) AS first_doc
      FROM documents WHERE lang = 'en' GROUP BY lang ORDER BY lang""")),

    // ---- q54: AQE SKEW-JOIN — the ENGINE mechanism completing q28's
    // manual salted-join pattern. A deliberately skewed key (60% of
    // lineitem lands on sk=0) meets a 100-key dim in a forced sort-merge
    // join; AQE's runtime stats see the hot post-shuffle partition and
    // split it (SortMergeJoin(skew=true) + AQEShuffleRead skewed in the
    // final plan — locked in PlanShapeSpec). At 100 TB this is the
    // default defense: no query rewrite, no salt column, the engine
    // re-plans from the actual shuffle sizes. Runs in its own session
    // (newSession: shared context, isolated conf) because the skew
    // thresholds must come down to gate-scale partition sizes and Verify
    // runs queries concurrently on shared sessions.
    QueryDef("q54_aqe_skew_join", (s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      // Two things gate-scale data needs that 100 TB data has for free:
      //  - repartition(16): skewed partitions split along MAP-output
      //    boundaries, and a single small parquet file scans as ONE map
      //    task — unsplittable. At real scale the scan has thousands of
      //    map tasks; here the round-robin exchange stands in for them.
      //  - an md5 fingerprint column: the hot partition's repeated join
      //    key compresses so well that row skew vanishes from the byte
      //    stats AQE reads; the incompressible fp keeps bytes ∝ rows
      //    (and doubles as a checksum the oracle reproduces).
      val li = s2.read.parquet(s"$d/lineitem.parquet")
        .select(when(col("l_orderkey") % 100 < 60, 0L)
          .otherwise(col("l_orderkey") % 100).as("sk"), col("l_quantity"),
          md5(concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"))).as("fp"))
        .repartition(16)
      val dim = s2.range(0, 100)
        .select(col("id").as("sk"), (col("id") * 7 % 13).as("w"))
      li.hint("merge").join(dim.hint("merge"), "sk")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"),
          min(col("fp")).as("min_fp"))
        .orderBy("w")
    }, Some("""
      WITH li AS (
        SELECT CASE WHEN l_orderkey % 100 < 60 THEN 0
                    ELSE l_orderkey % 100 END AS sk, l_quantity,
               md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                   CAST(l_linenumber AS VARCHAR)) AS fp
        FROM lineitem),
      dim AS (SELECT g AS sk, (g * 7) % 13 AS w FROM generate_series(0, 99) t(g))
      SELECT w, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             MIN(fp) AS min_fp
      FROM li JOIN dim USING (sk)
      GROUP BY w ORDER BY w""")),

    // ---- q55: Z-ORDER clustered layout — multi-dimensional data skipping,
    // the layout technique behind Delta/Iceberg OPTIMIZE ZORDER: a
    // bit-interleaved key over two dimensions, the table range-partitioned
    // and sorted by that key on write, so a 2-D box predicate touches only
    // the files/row-groups whose min-max straddle the box (a 1-D sort can
    // only skip on its leading column). The interleave is pure integer
    // div/mod arithmetic — identical in both engines — and the read-back
    // carries pushed-down filters on BOTH dims (PushedFilters plan-locked),
    // which parquet serves from row-group stats over the clustered files.
    // At 100 TB this is how a petabyte scan becomes a terabyte one.
    QueryDef("q55_zorder_layout", (s, d) => {
      val tmp = graft.queries.TempDirs.create("graft_zorder_")
      val z = (0 until 8).map(k =>
        s"((a div ${1L << k}) % 2) * ${1L << (2 * k)} + " +
          s"((b div ${1L << k}) % 2) * ${1L << (2 * k + 1)}")
        .mkString("CAST(", " + ", " AS BIGINT)")
      t(s, d, "orders")
        .select((col("o_custkey") % 256).as("a"), (col("o_orderkey") % 256).as("b"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("zkey", expr(z))
        .repartitionByRange(8, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("a").between(32, 63) && col("b").between(64, 127))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
          min(col("zkey")).as("min_zkey"), max(col("zkey")).as("max_zkey"))
    }, Some("""
      WITH z AS (
        SELECT o_custkey % 256 AS a, o_orderkey % 256 AS b,
               CAST(FLOOR(o_totalprice*100) AS BIGINT) AS cents
        FROM orders),
      zz AS (
        SELECT a, b, cents,
               CAST(((a // 1) % 2) * 1 + ((b // 1) % 2) * 2
                  + ((a // 2) % 2) * 4 + ((b // 2) % 2) * 8
                  + ((a // 4) % 2) * 16 + ((b // 4) % 2) * 32
                  + ((a // 8) % 2) * 64 + ((b // 8) % 2) * 128
                  + ((a // 16) % 2) * 256 + ((b // 16) % 2) * 512
                  + ((a // 32) % 2) * 1024 + ((b // 32) % 2) * 2048
                  + ((a // 64) % 2) * 4096 + ((b // 64) % 2) * 8192
                  + ((a // 128) % 2) * 16384 + ((b // 128) % 2) * 32768
                 AS BIGINT) AS zkey
        FROM z)
      SELECT COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(MIN(zkey) AS BIGINT) AS min_zkey,
             CAST(MAX(zkey) AS BIGINT) AS max_zkey
      FROM zz WHERE a BETWEEN 32 AND 63 AND b BETWEEN 64 AND 127""")),

    // ---- q56: 128-bit EXACT decimal aggregation — the money-math
    // contract a BIGINT cents column cannot keep at warehouse scale: the
    // per-row scaled value (cents × 1e8) fits a long, but the GROUP
    // TOTAL exceeds int64's 9.2e18 even at gate scale, so the sum is
    // correct ONLY through Spark's 128-bit Decimal aggregation (DuckDB:
    // HUGEINT-backed DECIMAL(38)). Exact and order-independent in any
    // partitioning — the property float sums lose and the reason every
    // financial rollup at 100 TB runs on decimals. One map-side-combined
    // hash aggregate; decimal codegen stays in WholeStageCodegen.
    QueryDef("q56_decimal_exact_sum", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          (cents(col("l_extendedprice")) * lit(100000000L))
            .cast("decimal(38,0)").as("scaled"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("scaled")).as("sum_dec"))
        // emitted as exact digits: the pandas/DuckDB bridge narrows a
        // >int64 DECIMAL to float64, which would destroy the very
        // precision this query exists to prove
        .select(col("l_returnflag"), col("n"),
          col("sum_dec").cast("string").as("sum_scaled"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(CAST(FLOOR(l_extendedprice*100) AS BIGINT) * 100000000
                           AS DECIMAL(38,0))) AS VARCHAR) AS sum_scaled
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- q58: q56's money-math contract through the custom 128-bit
    // adder — the in-repo fix for q56's measured 3.7× (its Decimal(38)
    // aggregation boxes a JavaBigDecimal per row; DuckDB sums int128
    // natively). sum128_agg keeps group state as two longs with a
    // bitwise carry-out, so the per-row cost is one 64-bit add — and it
    // stays scale-SAFE where the tempting `SUM(cents) * 10^8` factored
    // rewrite is not (Σcents alone overflows int64 at 10^12 rows).
    // Certified two ways: against DuckDB's HUGEINT oracle here, and
    // against q56's own Decimal result in Sum128Spec.
    QueryDef("q58_int128_exact_sum", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          (cents(col("l_extendedprice")) * lit(100000000L)).as("scaled"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Sum128Agg.sum128_agg(col("scaled")).as("sum_scaled"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(CAST(FLOOR(l_extendedprice*100) AS BIGINT) * 100000000
                           AS DECIMAL(38,0))) AS VARCHAR) AS sum_scaled
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- q57: SCD TYPE-2 dimension versioning — the warehouse pattern
    // behind every "as the dimension looked on date D" query: each
    // customer's order dates become validity intervals
    // [valid_from, valid_to) via LEAD over (custkey, date, orderkey) —
    // the open interval (valid_to NULL) is the current version — and the
    // ledger counts, per market segment, total versions, current
    // versions, and versions active as of a probe date. Dates travel as
    // yyyymmdd integers (immune to the testdata writer's three timestamp
    // shapes). One window partitioned by custkey (the natural shuffle
    // key — millions of independent partitions at 100 TB, no global
    // sort), one broadcast dim join, one rollup.
    QueryDef("q57_scd2_versions", (s, d) => {
      val probe = 19950615L
      val o = t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast("long").as("ymd"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ymd"), col("o_orderkey"))
      val versions = o.withColumn("valid_to", lead(col("ymd"), 1).over(w))
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      versions.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
          sum(when(col("ymd") <= probe &&
            (col("valid_to").isNull || col("valid_to") > probe), 1L)
            .otherwise(0L)).as("n_active_at_probe"))
        .orderBy("c_mktsegment")
    }, Some("""
      WITH v AS (
        SELECT o_custkey, o_orderkey,
               CAST(year(o_orderdate)*10000 + month(o_orderdate)*100
                    + day(o_orderdate) AS BIGINT) AS ymd
        FROM orders),
      versions AS (
        SELECT o_custkey, ymd,
               LEAD(ymd) OVER (PARTITION BY o_custkey
                               ORDER BY ymd, o_orderkey) AS valid_to
        FROM v)
      SELECT c_mktsegment, COUNT(*) AS n_versions,
             CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_current,
             CAST(SUM(CASE WHEN ymd <= 19950615
                            AND (valid_to IS NULL OR valid_to > 19950615)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_active_at_probe
      FROM versions JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY c_mktsegment""")),

    // ---- q59: q03 ON THE BUCKETED LAYOUT (VERDICT r13 #1) — the two
    // largest sf10 ratios on the gate set (q03 5.3×, q05 7.7×) were
    // pinned by BENCH_SCALING on the partitioned fact-fact exchange vs
    // DuckDB's single-process hash join; q51 proved the zero-exchange
    // bucketed join in isolation, and this query APPLIES that layout to
    // the q03 headline shape: lineitem and orders are written bucketed
    // 8-way on orderkey (one file per bucket — repartition on the bucket
    // key first, so the scan reports both hash distribution AND sort
    // order), and then the ENTIRE fact pipeline — the per-order revenue
    // aggregate, the fact-fact join — runs with ZERO exchanges: the
    // aggregate reuses the bucket distribution, the join reads both
    // sides pre-distributed, and only the broadcast dim join + top-10
    // remain. Plan-locked (PlanShapeSpec: no Exchange anywhere below the
    // TakeOrdered). At 100 TB this is the difference between shuffling
    // the lineitem fact per query and paying one bucketed write amortized
    // over every orderkey join in the pipeline; the oracle is IDENTICAL
    // to q03's, so correctness parity of the layout is oracle-checked.
    QueryDef("q59_bucketed_topn", (s, d) => {
      val s2 = bucketSortedSession(s)
      val lt = "graft_b59_lineitem"; val ot = "graft_b59_orders"
      buildOrderkeyBucketedTables(s2, d, lt, ot, nb = 8, withSuppkey = false)
      q59QueryPhase(s2, d, lt, ot)
    }, Some("""
      SELECT l_orderkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY l_orderkey ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""")),

    // ---- q60: q05 ON THE BUCKETED LAYOUT — q59's sibling for the 6-way
    // star: the lineitem⋈orders fact-fact exchange (the q05 residual's
    // largest term) disappears into the bucketed layout; the custkey
    // shuffle-hash join and the broadcast dims are unchanged, because at
    // 100 TB customer is itself fact-sized and custkey is a SECOND join
    // key one orderkey-bucketed layout cannot co-locate — that residual
    // exchange is the honest lower bound of this query shape without a
    // second (custkey-bucketed) copy of the join output. Oracle identical
    // to q05's. Plan-locked: no Exchange below the orderkey join.
    QueryDef("q60_bucketed_join5", (s, d) => {
      val s2 = bucketSortedSession(s)
      val lt = "graft_b60_lineitem"; val ot = "graft_b60_orders"
      buildOrderkeyBucketedTables(s2, d, lt, ot, nb = 8, withSuppkey = true)
      q60QueryPhase(s2, d, lt, ot)
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""")),

    // ---- q68: q60's star over a DUAL bucketed layout (VERDICT r14 #1)
    // — q60 killed the orderkey exchange but its custkey join still
    // re-hashed the filtered fact intermediate AND customer at runtime
    // ("one layout cannot co-locate two keys"). The warehouse answer is
    // the SECOND copy: orders+customer co-bucketed on custkey next to
    // lineitem's orderkey buckets. orders⋈customer then rides its own
    // buckets exchange-free, and the only shuffle left in the whole
    // star is the orders-sized o⋈c output re-hashed to lineitem's
    // buckets — lineitem never moves, customer never moves. Oracle
    // identical to q05/q60's, so layout-copy correctness is
    // oracle-checked; plan-locked by PlanShapeSpec (the one exchange).
    QueryDef("q68_dual_bucketed_join5", (s, d) => {
      val s2 = bucketSortedSession(s)
      val lt = "graft_b68_lineitem"
      buildLineitemOrderkeyBucketed(s2, d, lt, nb = 8, withSuppkey = true)
      val ot = "graft_b68_orders_ck"; val ct = "graft_b68_customer_ck"
      buildCustkeyBucketedTables(s2, d, ot, ct, nb = 8)
      q60DualLayoutPhase(s2, d, lt, ot, ct)
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""")),

    // ---- q61: RUNTIME BLOOM-FILTER semi-join reduction — Catalyst's
    // InjectRuntimeFilter: when a shuffle join's build side carries a
    // selective filter, the optimizer plans a bloom_filter_agg subquery
    // over the build side's join keys and injects might_contain(...) into
    // the probe side's scan stage, so fact rows that cannot join die AT
    // THE SCAN instead of riding the exchange. At 100 TB this is the
    // difference between shuffling the whole fact table and shuffling the
    // ~1% that survives the dim filter — the same reduction DPP gives
    // partitioned keys, but for arbitrary join keys.
    QueryDef("q61_runtime_bloom_join", (s, d) => {
      // r18 (VERDICT r17 #4): the registered row rides the NATURAL config —
      // bloom enabled with the measured 256 MB application-side crossover
      // (bloomChildSession, shared with q05), broadcast left to the planner
      // — so the benched number is the production plan (2.8x, not the old
      // 1KB-threshold demo's 13x). The mechanism lock lives ONLY in
      // PlanShapeSpec, which pins appThreshold=1KB + broadcast=-1 on the
      // root session (bloomChildSession honors caller-pinned values) and
      // asserts might_contain/bloom_filter_agg in the physical plan.
      val s2 = bloomChildSession(s)
      val su = t(s2, d, "supplier")
        .filter(col("s_acctbal") >= 6000) // selective dim predicate, non-empty at every sf
        .select(col("s_suppkey"), col("s_nationkey"))
      t(s2, d, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(su, col("l_suppkey") === su("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
        .orderBy(col("s_nationkey"))
    }, Some("""
      SELECT s_nationkey, COUNT(*) AS n_items,
             CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_acctbal >= 6000
      GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ---- q62: SLIDING (hopping) window aggregation — `window(ts, '1
    // hour', '15 minutes')`: every event lands in 4 overlapping windows
    // and Spark's TimeWindow expression EXPANDS it to its windows at the
    // scan (a bounded 4x Generate) before a plain hash aggregate — the
    // streaming-compatible tumble/hop shape (q25 is the tumbling special
    // case). At 100 TB the expansion factor is width/slide (4x), a
    // constant chosen by the query — unlike a self-join formulation whose
    // fan-out would scale with data density. Windows align to the epoch
    // grid, so the oracle re-derives membership arithmetically:
    // start = floor(epoch/900)*900 - k*900, k in 0..3.
    QueryDef("q62_sliding_window", (s, d) => {
      Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("w.start")).as("wstart_s"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy("wstart_s", "event_type")
    }, Some("""
      SELECT CAST(FLOOR(epoch(ts)/900)*900 - k*900 AS BIGINT) AS wstart_s,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events, generate_series(0, 3) t(k)
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- q63: DYNAMIC partition pruning — the join-driven variant of
    // q53's static prune and the partition-column sibling of q61's bloom
    // reduction. The fact is partitioned by lang on disk; the predicate
    // arrives through a JOIN to a derived dim whose filter (h28(lang)%3=0)
    // Catalyst cannot constant-fold into a static partition filter, so
    // the only way fact partitions die at the SCAN is the engine's DPP:
    // the broadcast dim is reused as an IN-subquery on the fact's
    // partition column (plan-locked: dynamicpruning expression in
    // PartitionFilters). At 100 TB this is the mechanism that turns a
    // dim-filtered star join from a full fact scan into reading only the
    // joined partitions — DPP's effect is file-level, before q61's
    // row-level bloom even runs. The partitioned layout is the shared
    // one-time build (langPartitionedDocs, q53's too) — a layout cost the
    // pipeline pays at write time, never per query.
    QueryDef("q63_dpp_join", (s, d) => {
      val tmp = langPartitionedDocs(s, d)
      val dim = t(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_dim"))
        .filter(TextDedup.h28(col("lang")) % 3 === 0)
        .select(col("lang").as("dlang"))
      s.read.parquet(tmp)
        .join(broadcast(dim), col("lang") === col("dlang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy("lang")
    }, Some("""
      WITH dim AS (
        SELECT lang FROM documents GROUP BY lang
        HAVING ('0x' || substr(md5(lang), 1, 7))::BIGINT % 3 = 0)
      SELECT d.lang, COUNT(*) AS n_docs,
             CAST(SUM(length(d.text)) AS BIGINT) AS n_chars
      FROM documents d JOIN dim USING (lang)
      GROUP BY d.lang ORDER BY d.lang""")),

    // ---- q64: SCHEMA EVOLUTION across ingest epochs — the lake reality a
    // decade of 100 TB ingest produces: early batches were written before
    // a column existed, later batches carry it, and ONE read must span
    // both. Epoch 1 writes (doc_id, text); epoch 2 adds lang. The read is
    // `mergeSchema` + partition discovery over the epoch directories: the
    // unified schema gains `lang`, epoch-1 rows surface it as NULL (bucketed
    // to 'unknown'), and the epoch partition column materializes from the
    // directory names — no rewrite of the old files, which is the point
    // (rewriting a decade of parquet to add a column is the anti-pattern).
    // The oracle reproduces the epoch split arithmetically with an
    // explicit NULL column for epoch 1, so a read that drops old-file rows,
    // mis-aligns columns by position, or loses the partition column breaks
    // the hash. Temp write = ingest-history fixture, not the operator.
    QueryDef("q64_schema_evolution", (s, d) => {
      val tmp = graft.queries.TempDirs.create("graft_evo_")
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$tmp/epoch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/epoch=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("epoch").cast("int").as("epoch"),
          coalesce(col("lang"), lit("unknown")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy("epoch", "lang")
    }, Some("""
      WITH unioned AS (
        SELECT 1 AS epoch, doc_id, text, CAST(NULL AS VARCHAR) AS lang
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 2 AS epoch, doc_id, text, lang
        FROM documents WHERE doc_id % 2 = 1)
      SELECT epoch, COALESCE(lang, 'unknown') AS lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars
      FROM unioned GROUP BY 1, 2 ORDER BY epoch, lang""")),

    // ---- q65: FUNNEL analysis — ordered event-sequence matching (first
    // view → first click AFTER it → first purchase after THAT), the
    // canonical product-analytics shape. The scale formulation is three
    // user-keyed equi-joins with strictly-increasing time guards — each
    // stage's relation shrinks, all shuffles share the user_id key (one
    // partitioning reused), and NO per-user event sort or session window
    // ever materializes (the collect-and-scan-per-user formulation is the
    // anti-pattern at 10^11 events). Σuser_id per stage pins membership
    // exactly, not just counts.
    QueryDef("q65_funnel_stages", (s, d) => {
      val ev = Tables.load(s, d, "events")
      def firstOf(tpe: String) = ev.filter(col("event_type") === tpe)
      val v = firstOf("view").groupBy(col("user_id"))
        .agg(min(col("ts")).as("t1"))
      val c = firstOf("click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = firstOf("purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      def tier(df: org.apache.spark.sql.DataFrame, stage: Int) =
        df.agg(count(lit(1)).as("n_users"),
          sum(col("user_id")).as("user_sum"))
          .select(lit(stage).as("stage"), col("n_users"), col("user_sum"))
      tier(v, 1).unionByName(tier(c, 2)).unionByName(tier(p, 3))
        .orderBy("stage")
    }, Some("""
      WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT 1 AS stage, COUNT(*) AS n_users,
             CAST(SUM(user_id) AS BIGINT) AS user_sum FROM v
      UNION ALL
      SELECT 2, COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM p
      ORDER BY stage""")),

    // ---- q66: COHORT RETENTION — users bucketed by first-activity week
    // (the cohort), then distinct-active counts at each week offset k: the
    // canonical engagement matrix. Scale shape: the (user, week) activity
    // set is deduplicated BEFORE the cohort join (map-side combinable,
    // collapses 10^11 events to |users|×|weeks|), the cohort relation is
    // user-keyed like q65's tiers, and the matrix is |weeks|² rows.
    // Epoch-week arithmetic (epoch div 604800) is engine-stable — both
    // sides integer-truncate the same instant.
    QueryDef("q66_cohort_retention", (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 604800").as("week"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("w0"))
      val active = ev.distinct()
      active.join(cohort, "user_id")
        .groupBy(col("w0"), (col("week") - col("w0")).as("k"))
        .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("user_sum"))
        .orderBy("w0", "k")
    }, Some("""
      WITH weekly AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
        FROM events),
      cohort AS (
        SELECT user_id, MIN(week) AS w0 FROM weekly GROUP BY 1)
      SELECT c.w0, w.week - c.w0 AS k, COUNT(*) AS n_users,
             CAST(SUM(w.user_id) AS BIGINT) AS user_sum
      FROM weekly w JOIN cohort c USING (user_id)
      GROUP BY 1, 2 ORDER BY w0, k""")),

    // ---- q67: MAP-TYPE SURFACE (VERDICT r14 #6) — the one host-type-
    // lattice family with no gate query until now: per-mktsegment
    // nation→count maps built with map_from_entries over a sorted
    // entry list, extended via map_concat with a map() literal holding
    // a fold-computed _TOTAL entry (functions.aggregate over
    // map_values), point-accessed with element_at, sized with
    // map_keys, and exploded back to rows. The map column itself is
    // engine-local (DuckDB 1.0 MAP semantics differ), so the gate
    // compares the EXPLODED key/value relation plus the scalar
    // lookups — every map op's effect is visible in the output.
    // Scale shape: maps are per-GROUP values (|segments| rows of
    // |nations| entries), built after the aggregation collapse —
    // never a corpus-sized collect.
    QueryDef("q67_map_surface", (s, d) => {
      val cn = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("n_name"))
        .agg(count(lit(1)).as("cnt"))
      val m = cn.groupBy(col("segment"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("n_name"), col("cnt"))))).as("m"))
        .withColumn("m2", map_concat(col("m"),
          map(lit("_TOTAL"),
            aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x))))
      m.select(col("segment"),
          explode(col("m2")).as(Seq("key", "value")),
          size(map_keys(col("m2"))).as("n_keys"),
          coalesce(element_at(col("m2"), lit("GERMANY")), lit(0L))
            .as("germany_cnt"))
        .orderBy("segment", "key")
    }, Some("""
      WITH cn AS (
        SELECT c.c_mktsegment AS segment, n.n_name, COUNT(*) AS cnt
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
      tot AS (
        SELECT segment, CAST(SUM(cnt) AS BIGINT) AS total,
               COUNT(*) AS nk,
               CAST(COALESCE(SUM(CASE WHEN n_name = 'GERMANY' THEN cnt END), 0)
                 AS BIGINT) AS germany
        FROM cn GROUP BY 1),
      entries AS (
        SELECT segment, n_name AS key, cnt AS value FROM cn
        UNION ALL
        SELECT segment, '_TOTAL', total FROM tot)
      SELECT e.segment, e.key, CAST(e.value AS BIGINT) AS value,
             CAST(t.nk + 1 AS INTEGER) AS n_keys,
             t.germany AS germany_cnt
      FROM entries e JOIN tot t USING (segment)
      ORDER BY segment, key""")),

    // ---- q69: running COUNT(DISTINCT) OVER — a window shape Spark has
    // no native form for (DISTINCT inside window aggregates is rejected
    // by the analyzer); the Spark-idiomatic composition is
    // size(collect_set() OVER (... ROWS UNBOUNDED PRECEDING)) — still
    // ONE shuffle on the partition key, running state bounded by the
    // distinct-value count per partition, never the frame length.
    // STATE-CARDINALITY BOUND (r17): collect_set keeps EVERY distinct
    // value in one window buffer, so this shape is only safe when the
    // counted column is low-cardinality (event types here: ≤5). For a
    // high-cardinality column (user ids, urls) use q69b's
    // first-occurrence-marker formulation below — O(1) running state per
    // frame, the tx21→tx23 exact→sketch pattern. Null semantics (r17,
    // ADVICE r16): collect_set drops NULLs while the oracle's
    // ROW_NUMBER-per-(user,type) would count NULL as a type, so both
    // sides now exclude null event_type explicitly rather than leaning
    // on the fixture's no-null invariant. The oracle deliberately uses a
    // DIFFERENT, engine-portable formulation (first-occurrence marking:
    // ROW_NUMBER per (user, type), running SUM of the rn=1 markers), so
    // the composition is checked against independent arithmetic rather
    // than DuckDB's native DISTINCT windows. Ties broken by event_id in
    // both engines — frames are deterministic.
    QueryDef("q69_window_distinct", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
        .filter(col("event_type").isNotNull)
        .withColumn("n_distinct_types",
          size(collect_set(col("event_type")).over(w)).cast("long"))
        .filter(col("event_id") % 50 === 0) // bounded projection, full window math
        .select(col("user_id"), col("event_id"), col("n_distinct_types"))
        .orderBy("user_id", "event_id")
    }, Some("""
      WITH marked AS (
        SELECT user_id, event_id, epoch_ms(ts) AS tms, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY epoch_ms(ts), event_id) AS occ
        FROM events WHERE event_type IS NOT NULL),
      running AS (
        SELECT user_id, event_id,
               SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY tms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS n_distinct_types
        FROM marked)
      SELECT user_id, event_id, CAST(n_distinct_types AS BIGINT) AS n_distinct_types
      FROM running WHERE event_id % 50 = 0
      ORDER BY user_id, event_id""")),

    // ---- q69b: the SCALE path for running COUNT(DISTINCT) — q69's
    // collect_set buffer is O(distinct values) per frame, fine for ≤5
    // event types, hostile for a high-cardinality column. The marker
    // formulation is O(1) state: ROW_NUMBER over (user, type) marks each
    // type's FIRST occurrence, then a plain running SUM of the markers
    // counts distincts seen so far. Cost shape: two sort-windows on
    // different keys, hence two exchanges — but each window buffer is a
    // single counter, never a set. One extra exchange for bounded memory
    // is the right trade at 100 TB, where a frame can hold millions of
    // distincts. The oracle
    // is DuckDB's NATIVE windowed COUNT(DISTINCT ...) — a third
    // independent formulation (q69 checks composition-vs-markers; q69b
    // checks markers-vs-native), closing the triangle.
    QueryDef("q69b_window_distinct_marker", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wOcc = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("tms"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("tms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
        .filter(col("event_type").isNotNull)
        .withColumn("first_occ",
          when(row_number().over(wOcc) === 1, 1L).otherwise(0L))
        .withColumn("n_distinct_types", sum(col("first_occ")).over(wRun))
        .filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("event_id"), col("n_distinct_types"))
        .orderBy("user_id", "event_id")
    }, Some("""
      SELECT user_id, event_id, CAST(n_distinct_types AS BIGINT) AS n_distinct_types
      FROM (
        SELECT user_id, event_id,
               COUNT(DISTINCT event_type)
                 OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS n_distinct_types
        FROM events WHERE event_type IS NOT NULL)
      WHERE event_id % 50 = 0
      ORDER BY user_id, event_id"""))
  )

  /** Session for the bucketed-layout queries (r16): the layout writes
    * exactly one bucket-sorted file per bucket, so the scan can REPORT
    * that sort order (the non-legacy default drops it to allow multi-
    * file buckets) and the planner can then replace the distribution-
    * satisfied hash aggregate with a streaming SortAggregate — no 15M-
    * entry hash table, no partial/final double hashing, measured
    * 0.60 → 0.43 s on the sf10m per-order revenue aggregate (r16).
    * Scoped to a child session (q61's pattern) because the ordering
    * flag is only sound under the one-file-per-bucket invariant our
    * builders guarantee. */
  private def bucketSortedSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s2.conf.set("spark.sql.execution.replaceHashWithSortAgg", "true")
    s2
  }

  /** One-time orderkey-bucketed layout build shared by q59/q60 and the
    * r14 sf10 measurements — `nb` is the only knob they varied (8 for
    * the gate queries, 64 at sf10), so the benchmarked query phase and
    * the plan-locked gate phase are the SAME code. */
  def buildOrderkeyBucketedTables(s: SparkSession, d: String,
                                  lineitemTbl: String, ordersTbl: String,
                                  nb: Int, withSuppkey: Boolean): Unit = {
    buildLineitemOrderkeyBucketed(s, d, lineitemTbl, nb, withSuppkey)
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .repartition(nb, col("o_orderkey"))
      .write.bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(ordersTbl)
  }

  /** The lineitem half of the orderkey layout alone — q68's dual-layout
    * build needs lineitem on orderkey but orders on CUSTKEY, so the
    * paired write above would waste an orders copy. */
  def buildLineitemOrderkeyBucketed(s: SparkSession, d: String,
                                    lineitemTbl: String, nb: Int,
                                    withSuppkey: Boolean): Unit = {
    // The derived revenue measure is MATERIALIZED into the layout
    // (VERDICT r15 #1): every consumer of this copy (q59/q60/q68) only
    // ever reads cents(l_extendedprice*(1-l_discount)), so the layout
    // stores that long directly — the per-row double multiply/floor
    // moves to write time (paid once, amortized like the bucketing
    // itself) and the query-phase scan materializes two/three BIGINT
    // columns instead of doubles it immediately re-derives. This is the
    // "read money as unscaled longs" half of the scan-class residual.
    val lcols =
      if (withSuppkey) Seq(col("l_orderkey"), col("l_suppkey"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
      else Seq(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
    t(s, d, "lineitem")
      .select(lcols: _*)
      .repartition(nb, col("l_orderkey"))
      .write.bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(lineitemTbl)
  }

  /** The SECOND bucketed copy a real warehouse maintains for the q05/q60
    * star (BENCH_SCALING r14's named next step): orders and customer
    * co-bucketed on CUSTKEY, so the star's second join key gets its own
    * co-located layout instead of a fact-sized runtime exchange. */
  def buildCustkeyBucketedTables(s: SparkSession, d: String,
                                 ordersTbl: String, customerTbl: String,
                                 nb: Int): Unit = {
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .repartition(nb, col("o_custkey"))
      .write.bucketBy(nb, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable(ordersTbl)
    t(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .repartition(nb, col("c_custkey"))
      .write.bucketBy(nb, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable(customerTbl)
  }

  /** q68's query phase — the q05/q60 star over BOTH bucketed copies:
    * orders⋈customer rides the custkey buckets (zero exchange on either
    * side), the orders-sized join output is the ONLY relation re-hashed
    * (to lineitem's orderkey buckets — lineitem, the biggest table,
    * never moves), and supplier/nation/region broadcast. Exchanged
    * bytes collapse from fact-sized (q60: filtered l⋈o output +
    * customer, both on custkey) to one orders-sized intermediate —
    * at 100 TB that is the difference between re-shuffling the fact
    * pipeline per query and paying two amortized bucketed writes. */
  def q60DualLayoutPhase(s: SparkSession, d: String,
                         lineitemTbl: String, ordersCkTbl: String,
                         customerCkTbl: String): DataFrame = {
    val r = t(s, d, "region"); val n = t(s, d, "nation")
    val su = t(s, d, "supplier")
    val o = s.table(ordersCkTbl)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = s.table(customerCkTbl)
    val oc = o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    s.table(lineitemTbl).hint("merge")
      .join(oc, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("n_name"))
  }

  /** q59's query phase over pre-built bucketed tables: per-order revenue
    * aggregate + fact-fact join with ZERO exchanges (PlanShapeSpec). */
  def q59QueryPhase(s: SparkSession, d: String,
                    lineitemTbl: String, ordersTbl: String): DataFrame = {
    val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = s.table(ordersTbl)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val lrev = s.table(lineitemTbl)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
    lrev.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .select(col("l_orderkey"), col("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q60's query phase: the 6-way star with the orderkey exchange gone;
    * the custkey shuffle-hash join stays (second key, documented residual). */
  def q60QueryPhase(s: SparkSession, d: String,
                    lineitemTbl: String, ordersTbl: String): DataFrame = {
    val r = t(s, d, "region"); val n = t(s, d, "nation")
    val c = t(s, d, "customer"); val su = t(s, d, "supplier")
    val o = s.table(ordersTbl)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    s.table(lineitemTbl)
      .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === su("s_suppkey"))
      .join(c.hint("shuffle_hash"),
        col("o_custkey") === c("c_custkey") &&
          su("s_nationkey") === c("c_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
      .orderBy(col("n_name"))
  }
}
