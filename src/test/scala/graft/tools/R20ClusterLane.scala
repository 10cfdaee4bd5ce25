package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-20 cluster re-measurement lane (VERDICT r19 "Next round" #2 + #6).
  *
  * The bucketed layout twins' (q59/q60/q68) at-scale claim — "the second
  * layout copy pays where exchanges cost serde+IPC, not memcpy" — rested
  * on r15/r16 cluster numbers; every r19 reading was local[32], where q68
  * reads WORSE than q60. And graph13's horizontal-scaling argument
  * ("partitions by apex, every step an AQE-replannable hash join") was
  * stated, not shown: the 147M-triangle envelope ran local only. This lane
  * re-measures both on the real 4×8 standalone cluster (separate executor
  * JVMs — closure/Kryo serde, block-manager broadcast, socket shuffle)
  * with the CURRENT binary, same code path as local[32] via
  * SPARK_GRAFT_MASTER, so one sitting produces the paired reading.
  *
  * Modes (first arg):
  *  - "twins"   — controls q03/q05, bucketed builds (once, reported), then
  *                q59/q60/q68 query phases best-of-3 under the shipped
  *                bucketSortedSession configs (the r16 convention).
  *  - "graph13" — degree-ordered wedge-join triangle count on the cust%4
  *                co-purchase projection (the r19 envelope's gate point),
  *                derivation and count timed separately.
  *
  * Usage (cluster): tools/cluster.sh start 4 8 14g; then
  *   SPARK_GRAFT_MASTER=spark://127.0.0.1:7077 SPARK_GRAFT_SF_DIR=... \
  *     sbt "Test/runMain graft.tools.R20ClusterLane twins"
  * Local pairing: same command without SPARK_GRAFT_MASTER.
  */
object R20ClusterLane {
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val steal0 = stealJiffies()
    val mode = args.headOption.getOrElse("twins")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/localdata/sf10m")
    val onCluster = master.startsWith("spark://")
    val b0 = SparkSession.builder()
      .master(master)
      .appName(s"graft-r20-$mode")
      .withExtensions(new graft.sql.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.locality.wait", "0")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_r20_wh").toString)
    // on the standalone cluster the main jar ships to executors; the lane
    // itself is DataFrame-only (expression trees, no RDD closures), so
    // test-classes stay driver-side — the StarCcFaultLane convention
    val b1 =
      if (onCluster) b0
        .config("spark.jars",
          "/root/repo/target/scala-2.13/duckdbagespark_2.13-0.1.0.jar")
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "12g"))
      else b0
    val spark = b1.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best3(name: String)(mk: => DataFrame): Unit = {
      noop(mk)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(mk); (System.nanoTime() - t0) / 1e9 }
      println(f"""{"q":"$name","mode":"${if (onCluster) "cluster" else "local"}","best":${ts.min}%.3f,"runs":[${ts.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    def once(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"""{"q":"$name","mode":"${if (onCluster) "cluster" else "local"}","once":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    }

    val qs = graft.SparkEntry.queries
    mode match {
      case "twins" =>
        Seq("q03_join_topn", "q05_join5_agg").foreach(n =>
          best3(n) { qs(n)(spark, sfDir) })
        val sBkt = spark.newSession()
        sBkt.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        sBkt.conf.set("spark.sql.execution.replaceHashWithSortAgg", "true")
        once("bucketed_build_orderkey") {
          graft.queries.Relational.buildOrderkeyBucketedTables(
            sBkt, sfDir, "b_lineitem", "b_orders", nb = 64, withSuppkey = true)
        }
        best3("q59_query_only") {
          graft.queries.Relational.q59QueryPhase(sBkt, sfDir, "b_lineitem", "b_orders") }
        best3("q60_query_only") {
          graft.queries.Relational.q60QueryPhase(sBkt, sfDir, "b_lineitem", "b_orders") }
        once("bucketed_build_custkey") {
          graft.queries.Relational.buildCustkeyBucketedTables(
            sBkt, sfDir, "b_orders_ck", "b_customer_ck", nb = 64)
        }
        best3("q68_query_only") {
          graft.queries.Relational.q60DualLayoutPhase(
            sBkt, sfDir, "b_lineitem", "b_orders_ck", "b_customer_ck") }

      case "graph13" =>
        // the r19 envelope's gate point: cust%4 co-purchase projection,
        // degree-ordered wedge-join count (graph/Triangles.scala)
        val t0 = System.nanoTime()
        val pairs = graft.graph.GraphOps.coPurchasePairs(spark, sfDir, custMod = 4)
          .select(col("src"), col("dst")).localCheckpoint()
        val nEdges = pairs.count()
        val tDerive = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n = graft.graph.Triangles.count(pairs)
        val tCount = (System.nanoTime() - t1) / 1e9
        println(f"""{"q":"graph13_cust4","mode":"${if (onCluster) "cluster" else "local"}","n_edges":$nEdges,"n_triangles":$n,"derive_sec":$tDerive%.2f,"count_sec":$tCount%.2f}""")

      case other => sys.error(s"unknown mode: $other")
    }
    val d = stealJiffies() - steal0
    println(s"""{"steal_jiffies":$d,"quiet":${d >= 0 && d <= 300}}""")
    spark.stop()
  }
}
