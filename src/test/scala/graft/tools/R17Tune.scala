package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 tuning lane (VERDICT r16 #1b/#1c + #2 follow-through).
  *
  * Modes (first arg):
  *  - "q05"    — the fact-exchange class A/B, interleaved in one JVM:
  *               shipped q05/q03 vs the same query under runtime
  *               bloom-filter injection (thresholds lowered the q61 way,
  *               expectedNumItems sized to the filtered orderkey set), with
  *               per-stage shuffle write/read decomposition on the last rep.
  *               JVM-static levers come from env so the SAME binary A/Bs
  *               codec and shuffle disk:
  *                 SPARK_GRAFT_CODEC=zstd|lz4      (io.compression.codec)
  *                 SPARK_GRAFT_LOCAL_DIR=/dev/shm/…  (spark.local.dir — a
  *                   tmpfs control that splits serde-vs-disk in the write
  *                   time; NOT a production claim, a decomposition probe)
  *  - "repair" — re-pair the five stale weak-set rows (VERDICT r16 #1a)
  *               with the current binary: q59/q60/q68 query phases on the
  *               bucketed layouts, q61 gate + natural, q67, mm13, plus the
  *               shipped controls, best-of-3 warmed noop.
  *  - "scan"   — q25/q08 under reader-batch levers (columnarReaderBatchSize
  *               4k vs 16k) to close out the #2 floor ladder.
  *
  * Pair with tools/bench_duckdb.py given this tool's query list in the
  * same sitting.
  */
object R17Tune {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("q05")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/localdata/sf10m")
    val b0 = SparkSession.builder()
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
        java.nio.file.Files.createTempDirectory("graft_r17_wh").toString)
    val b1 = sys.env.get("SPARK_GRAFT_CODEC")
      .fold(b0)(c => b0.config("spark.io.compression.codec", c))
    val b2 = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .fold(b1)(d => b1.config("spark.local.dir", d))
    // JVM-static core confs (shuffle writer selection, buffers) — injectable
    // so one binary A/Bs them: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    val b3 = sys.env.get("SPARK_GRAFT_EXTRA_CONF").fold(b2) { kvs =>
      kvs.split(';').filter(_.contains('=')).foldLeft(b2) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    }
    val spark = b3.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-stage task-metrics sums (R17Probe's listener)
    case class St(tasks: AtomicLong = new AtomicLong, run: AtomicLong = new AtomicLong,
                  gc: AtomicLong = new AtomicLong, swB: AtomicLong = new AtomicLong,
                  swT: AtomicLong = new AtomicLong, srB: AtomicLong = new AtomicLong)
    val stages = new ConcurrentHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val st = stages.computeIfAbsent(t.stageId, _ => St())
        Option(t.taskMetrics).foreach { m =>
          st.tasks.incrementAndGet()
          st.run.addAndGet(m.executorRunTime)
          st.gc.addAndGet(m.jvmGCTime)
          st.swB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          st.swT.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
          st.srB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    def snap(): Map[Int, (Long, Long, Long, Long, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      stages.asScala.map { case (k, s) =>
        k -> (s.tasks.get, s.run.get, s.gc.get, s.swB.get, s.swT.get, s.srB.get)
      }.toMap
    }
    def stageReport(before: Map[Int, (Long, Long, Long, Long, Long, Long)]): String =
      snap().toSeq.filterNot { case (k, v) => before.get(k).contains(v) }
        .sortBy(_._1).map { case (k, (n, run, gc, swB, swT, srB)) =>
          val p = before.getOrElse(k, (0L, 0L, 0L, 0L, 0L, 0L))
          s"""{"stage":$k,"tasks":${n - p._1},"run_ms":${run - p._2},""" +
            s""""gc_ms":${gc - p._3},"sw_mb":${(swB - p._4) / 1048576},""" +
            s""""sw_ms":${swT - p._5},"sr_mb":${(srB - p._6) / 1048576}}"""
        }.mkString("[", ",", "]")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best3(name: String, withStages: Boolean = false)(mk: => DataFrame): Double = {
      noop(mk) // warm
      val ts = (1 to 3).map { i =>
        val b = if (withStages && i == 3) { Thread.sleep(800); snap() } else null
        val t0 = System.nanoTime(); noop(mk)
        val sec = (System.nanoTime() - t0) / 1e9
        if (b != null) { Thread.sleep(800)
          println(s"""{"q":"$name","rep":$i,"sec":${"%.3f".format(sec)},"stages":${stageReport(b)}}""") }
        sec
      }
      println(f"""{"q":"$name","best":${ts.min}%.3f,"runs":[${ts.map(t => f"$t%.3f").mkString(",")}]}""")
      ts.min
    }
    def once(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"""{"q":"$name","best":${(System.nanoTime() - t0) / 1e9}%.3f,"runs":1}""")
    }

    val qs = SparkEntry.queries

    /** session with runtime bloom-filter injection un-gated for probe-scale
      * facts (q61's stand-in discipline: the 10 GB application-side gate is
      * sized for clusters; expectedNumItems sized to the filtered orderkey
      * set so the filter's FP rate stays ~1%). */
    def bloomSession(): SparkSession = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "5000000")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "134217728")
      s2
    }

    mode match {
      case "q05" =>
        println(s"""{"lane":"q05","codec":"${spark.conf.get("spark.io.compression.codec", "lz4")}","local_dir":"${sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/tmp")}"}""")
        val sb = bloomSession()
        // r18 (ADVICE r17): the shipped q05 now SELF-enables the bloom at
        // the 256 MB crossover, so the old q05_bloom lane measured the same
        // plan as shipped; the A/B control is now q05_nobloom, which pins
        // the application-side gate to a non-default value ABOVE any probe
        // scan (bloomChildSession honors caller-pinned values — "10GB"
        // would be rewritten to 256MB, so pin 9GB). The advisory lanes set
        // the conf on the ROOT session; q05's memoized child copies it on
        // every call (advisoryPartitionSizeInBytes is in the ride-along
        // list since r18 — before that these lanes silently measured the
        // default advisory size).
        val sNoBloom = spark.newSession()
        sNoBloom.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "9GB")
        // bloom-FORCED lane (appThr honored at 1 byte): at sf10m the
        // natural 256MB gate stays off because the application-side
        // estimate is the PRUNED projection (~4/16 of lineitem's 1.2GB),
        // so shipped == nobloom there; this lane measures what the bloom
        // would buy if the gate opened
        val sBloom = spark.newSession()
        sBloom.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
        // AQE advisory partition size (VERDICT r16 #1b's second lever):
        // smaller advisory → more post-shuffle reducers on the big probe
        val sAdv16 = spark.newSession()
        sAdv16.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        val sAdv128 = spark.newSession()
        sAdv128.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        val shapes: Seq[(String, () => DataFrame)] = Seq(
          "q05_shipped" -> (() => qs("q05_join5_agg")(spark, sfDir)),
          "q05_nobloom" -> (() => qs("q05_join5_agg")(sNoBloom, sfDir)),
          "q05_bloom" -> (() => qs("q05_join5_agg")(sBloom, sfDir)),
          "q05_adv16m" -> (() => qs("q05_join5_agg")(sAdv16, sfDir)),
          "q05_adv128m" -> (() => qs("q05_join5_agg")(sAdv128, sfDir)),
          "q03_shipped" -> (() => qs("q03_join_topn")(spark, sfDir)),
          "q03_bloom" -> (() => qs("q03_join_topn")(sb, sfDir)))
        shapes.foreach { case (_, mk) => noop(mk()) } // warm all
        val acc = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
        for (rep <- 1 to 4; (name, mk) <- shapes) {
          val b = if (rep == 4) { Thread.sleep(800); snap() } else null
          val t0 = System.nanoTime(); noop(mk())
          val sec = (System.nanoTime() - t0) / 1e9
          acc(name) = sec :: acc(name)
          if (b != null) { Thread.sleep(800)
            println(s"""{"q":"$name","rep":$rep,"sec":${"%.3f".format(sec)},"stages":${stageReport(b)}}""") }
        }
        acc.toSeq.sortBy(_._1).foreach { case (k, ts) =>
          println(f"""{"q":"$k","best":${ts.min}%.3f,"med":${ts.sorted.apply(ts.size / 2)}%.3f,"reps":${ts.size}}""")
        }
        val p5 = qs("q05_join5_agg")(spark, sfDir).queryExecution.executedPlan.toString
        val p5n = qs("q05_join5_agg")(sNoBloom, sfDir).queryExecution.executedPlan.toString
        val p5b = qs("q05_join5_agg")(sBloom, sfDir).queryExecution.executedPlan.toString
        val p3 = qs("q03_join_topn")(sb, sfDir).queryExecution.executedPlan.toString
        println(s"""{"check":"bloom_in_plan","q05_shipped":${p5.contains("might_contain")},"q05_nobloom":${p5n.contains("might_contain")},"q05_bloom":${p5b.contains("might_contain")},"q03":${p3.contains("might_contain")}}""")

      case "repair" =>
        // shipped controls first (same sitting as the duckdb pair)
        Seq("q01_agg_pricing", "q03_join_topn", "q05_join5_agg",
          "q08_window_running", "q25_events_hourly").foreach(n =>
          best3(n) { qs(n)(spark, sfDir) })
        // bucketed layouts: build once (reported), then query-phase best3
        // under the shipped bucketSortedSession configs (R16Tune convention)
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
        best3("q67_map_surface") { qs("q67_map_surface")(spark, sfDir) }
        best3("mm13_mp4_walk") { qs("mm13_mp4_walk")(spark, sfDir) }

      case "floor" =>
        // r16 FloorMicro's three yardsticks, for cross-box comparability:
        // r16 box recorded 1-task noop 0.055 s, 32-task 10M-row sum 0.068 s,
        // one SP=64 exchange 0.33-0.60 s (BENCH_SCALING r16).
        def bestN(name: String, n: Int)(mk: => DataFrame): Unit = {
          noop(mk)
          val ts = (1 to n).map { _ =>
            val t0 = System.nanoTime(); noop(mk); (System.nanoTime() - t0) / 1e9 }
          println(f"""{"q":"$name","best":${ts.min}%.3f,"med":${ts.sorted.apply(n / 2)}%.3f,"reps":$n}""")
        }
        bestN("floor_1task_noop", 10) { spark.range(1).coalesce(1).toDF() }
        bestN("floor_32task_sum10m", 10) {
          spark.range(10000000L).agg(sum(col("id"))) }
        bestN("floor_exchange_sp64", 10) {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", "64")
          s2.conf.set("spark.sql.adaptive.enabled", "false")
          s2.range(10000000L).groupBy(pmod(col("id"), lit(97)).as("k"))
            .agg(count(lit(1))).toDF()
        }
        // single-thread JVM arithmetic yardstick (JIT + core speed, no Spark)
        var s = 0L; val t0 = System.nanoTime()
        var i = 0L; while (i < 200000000L) { s += i * i; i += 1 }
        println(f"""{"q":"floor_jvm_loop_200m","sec":${(System.nanoTime() - t0) / 1e9}%.3f,"sink":${s != 0}}""")

      case "scan" =>
        best3("q25_default", withStages = true) { qs("q25_events_hourly")(spark, sfDir) }
        best3("q08_default", withStages = true) { qs("q08_window_running")(spark, sfDir) }
        val s16 = spark.newSession()
        s16.conf.set("spark.sql.parquet.columnarReaderBatchSize", "16384")
        best3("q25_batch16k") { qs("q25_events_hourly")(s16, sfDir) }
        best3("q08_batch16k") { qs("q08_window_running")(s16, sfDir) }
    }
    spark.stop()
  }
}
