package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** sf10 measurements for the round-15 operators (dd25/tx31/mm13/q67;
  * q68's query phase is measured in R15Tune) — new gate queries should
  * carry scale numbers, not just correctness. Pair with
  * tools/bench_duckdb.py given this tool's query list, same sitting. */
object R15cTune {
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
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_r15c_wh").toString)
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
    val qs = SparkEntry.queries
    for (n <- Seq("q67_map_surface", "mm13_mp4_walk",
      "dd25_substring_spans", "tx31_bpe_train3"))
      best3(n) { qs(n)(spark, sfDir) }
    spark.stop()
  }
}
