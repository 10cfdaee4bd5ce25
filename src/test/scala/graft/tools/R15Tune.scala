package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 fact-join measurement lane (VERDICT r14 #1/#2), sf10m
  * (32-file layout-honest corpus) by default:
  *
  *  - composed layout: the bucketed q59/q60 query phases measured against
  *    the MULTI-FILE corpus build (r14 measured bucketing and file-level
  *    parallelism separately; the composed pair is the honest number);
  *  - the custkey-bucketed SECOND copy (orders+customer) and q68's
  *    dual-layout star — the step BENCH_SCALING r14 named as what a real
  *    warehouse does next;
  *  - q61 under NATURAL config (broadcast on, default thresholds) next to
  *    the gate's pinned runtime-bloom demo config, so the headline table
  *    stops carrying a self-inflicted 18×.
  *
  * Pair with tools/bench_duckdb.py given this tool's query list in the
  * same sitting (best-of-3
  * warmed noop vs best-of-3 fetchall, idle box — the r14 convention).
  */
object R15Tune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/localdata/sf10m")
    // SPARK_GRAFT_MASTER=spark://... runs the same lane on the standalone
    // cluster (CLUSTER.md) — where exchanges are real serde+IPC and q68's
    // shuffle-byte reduction is the thing under test; the packaged jar is
    // shipped to executors (this tune main itself is driver-only).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val b0 = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.sql.GraftSparkExtensions)
    val spark = (if (master.startsWith("spark://"))
      b0.config("spark.jars",
          "/root/repo/target/scala-2.13/duckdbagespark_2.13-0.1.0.jar")
        .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "12g"))
    else b0)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.locality.wait", "0")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_r15_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best3(name: String)(mk: => DataFrame): Unit = {
      noop(mk) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(mk); (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"q":"$name","best":${ts.min}%.3f,"runs":[${ts.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    def once(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"""{"q":"$name","best":${(System.nanoTime() - t0) / 1e9}%.3f,"runs":1}""")
    }

    val qs = SparkEntry.queries

    // shipped controls, same session
    best3("q01_agg_pricing") { qs("q01_agg_pricing")(spark, sfDir) }
    best3("q03_join_topn") { qs("q03_join_topn")(spark, sfDir) }
    best3("q05_join5_agg") { qs("q05_join5_agg")(spark, sfDir) }

    // composed: orderkey-bucketed build FROM the 32-file corpus
    once("bucketed_build_orderkey") {
      graft.queries.Relational.buildOrderkeyBucketedTables(
        spark, sfDir, "b_lineitem", "b_orders", nb = 64, withSuppkey = true)
    }
    best3("q59_query_only") {
      graft.queries.Relational.q59QueryPhase(spark, sfDir, "b_lineitem", "b_orders")
    }
    best3("q60_query_only") {
      graft.queries.Relational.q60QueryPhase(spark, sfDir, "b_lineitem", "b_orders")
    }

    // the custkey second copy + q68's dual-layout star (query phase only)
    once("bucketed_build_custkey") {
      graft.queries.Relational.buildCustkeyBucketedTables(
        spark, sfDir, "b_orders_ck", "b_customer_ck", nb = 64)
    }
    best3("q68_query_only") {
      graft.queries.Relational.q60DualLayoutPhase(
        spark, sfDir, "b_lineitem", "b_orders_ck", "b_customer_ck")
    }

    // q61: the gate's pinned demo config vs the natural plan
    best3("q61_gate_config") { qs("q61_runtime_bloom_join")(spark, sfDir) }
    best3("q61_natural") {
      val su = spark.read.parquet(s"$sfDir/supplier.parquet")
        .filter(col("s_acctbal") >= 6000)
        .select(col("s_suppkey"), col("s_nationkey"))
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy(col("s_nationkey"))
    }

    spark.stop()
  }
}
