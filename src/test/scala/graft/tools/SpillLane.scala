package graft.tools

import graft.obs.StageListener
import org.apache.spark.sql.SparkSession

/** Spill-correctness lane (100 TB posture): run the heaviest headline
  * queries at sf10m inside a deliberately tight memory envelope
  * (SPARK_DRIVER_MEM, default 8g, spark.memory.fraction=0.25 — an
  * executor-sized heap instead of the 90 GB bench envelope) and report
  * the task-metric spill volumes alongside wall time. The companion
  * correctness check is tools/sweep.py over a graft.Verify dump with the
  * same JVM settings — byte-identical oracle results under pressure are
  * the point; this lane supplies the PROOF THE PRESSURE WAS REAL
  * (memory/disk bytes spilled > 0). Not part of the driver contract.
  */
object SpillLane {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/localdata/sf10m")
    val names = sys.env.getOrElse("SPILL_QUERIES",
      "q23_count_distinct,dd08_minhash_all,dd24_cdc_chunk_dedup,q05_join5_agg")
      .split(',').toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .withExtensions(new graft.sql.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPILL_MEM_FRACTION", "0.25"))
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      var sec = 0.0
      val s = listener.measure(spark.sparkContext, s"spill-$n") {
        val t0 = System.nanoTime()
        qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        sec = (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"lane":"spill","query":"$n","sec":$sec%.2f,""" +
        f""""mem_spilled_mb":${s.memSpill / 1048576},""" +
        f""""disk_spilled_mb":${s.spill / 1048576},""" +
        s""""heap":"${Runtime.getRuntime.maxMemory() / 1048576}m"}""")
    }
    spark.stop()
  }
}
