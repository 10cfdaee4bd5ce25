package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VERDICT r15 #1: the scan-class residual on the zero-exchange fact
  * pipeline. Measures, at sf10m (32-file corpus) in one sitting:
  *   - q01/q03 controls (scan class),
  *   - the orderkey-bucketed build (now materializing rev_cents),
  *   - q59/q60/q68 query phases over the narrowed long-only layout,
  *   - q59 with replaceHashWithSortAgg (bucket-sorted input → streaming
  *     sort aggregate, no hash table).
  * Pair with tools/bench_duckdb.py given this tool's query list, same sitting. */
object R16Tune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/localdata/sf10m")
    val spark = SparkSession.builder()
      .master("local[32]")
      .withExtensions(new graft.sql.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.locality.wait", "0")
      // the shipped bucketSortedSession configs (one file per bucket →
      // scan reports sort order → streaming SortAggregate)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.execution.replaceHashWithSortAgg", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_r16_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best3(name: String)(mk: => DataFrame): Unit = {
      noop(mk)
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
    best3("q01_agg_pricing") { qs("q01_agg_pricing")(spark, sfDir) }
    best3("q03_join_topn") { qs("q03_join_topn")(spark, sfDir) }
    best3("q05_join5_agg") { qs("q05_join5_agg")(spark, sfDir) }

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
    once("bucketed_build_custkey") {
      graft.queries.Relational.buildCustkeyBucketedTables(
        spark, sfDir, "b_orders_ck", "b_customer_ck", nb = 64)
    }
    best3("q68_query_only") {
      graft.queries.Relational.q60DualLayoutPhase(
        spark, sfDir, "b_lineitem", "b_orders_ck", "b_customer_ck")
    }
    spark.stop()
  }
}
