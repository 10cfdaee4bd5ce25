package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Timings of one op. `t*` are `System.nanoTime`; `w*` epoch milliseconds. */
final case class OpRecord(id: String, kind: String, t0: Long, t1: Long, t2: Long,
                          w0: Long, w1: Long, outcome: Outcome) {
  def latency: Double = (t2 - t0) / 1e9
  def ok: Boolean = outcome.error.isEmpty
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Benchmark JVM. One run sets up a session once, warms up, then
  * runs one workload as a closed loop (one client, next op after the last
  * completes) for whole rounds until `--seconds` have passed, and writes
  * its metrics as JSON to `--out`. `perfbench/run.py` builds and drives it.
  *
  * `--dump-oracles <file>` instead writes the DuckDB oracle SQL of every
  * checked query, from which `reference.py` computes the fingerprints. */
object Main {
  /** The session conf `graft.Bench` derives for the ~17 MB sf0.1 corpus
    * (4 shuffle partitions, 8 MiB splits, AQE off below 256 MB), written
    * out; `spark.sql.files.minPartitionNum` is min(4, cores) as there. */
  def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    "spark.sql.files.maxPartitionBytes" -> (8L << 20).toString,
    "spark.sql.files.minPartitionNum" -> math.min(4, cores).toString,
    "spark.sql.files.openCostInBytes" -> (256L << 10).toString,
    "spark.locality.wait" -> "0",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.get("dump-oracles") match {
      case Some(out) =>
        val oracles = graft.SparkEntry.oracleSql
        val missing = Workloads.checkedQueries.filterNot(oracles.contains)
        require(missing.isEmpty, s"no oracle for ${missing.mkString(", ")}")
        Files.write(Paths.get(out), Json.obj(Workloads.checkedQueries.map(q =>
          q -> Json.str(oracles(q)))).getBytes(UTF_8))
      case None => new Run(a).run()
    }
  }
}

final class Run(a: Map[String, String]) {
  private val workloadName = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val cores = a("cores").toInt
  private val corpus = a("corpus")
  private val work = a("work")
  private val jvmStart = a("t0-epoch-ns").toLong
  private val refs: Map[String, Fingerprint] =
    scala.io.Source.fromFile(a("refs"), "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, rows, hash) = l.split("\t")
      q -> Fingerprint(rows.toLong, java.lang.Long.parseUnsignedLong(hash))
    }.toMap
  private val wl = Workloads(workloadName, seed, corpus, work, refs)
  private val conf = Main.sessionConf(cores)
  private val errors = mutable.ArrayBuffer.empty[String]
  private val tracer = new Tracer
  private val listener = new StageListener
  // nanoTime = epoch millis * 1e6 + offset (for the listener's timestamps)
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .withExtensions(new graft.sql.GraftSparkExtensions)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One set-up: session, function registration, table views, the
    * workload's own preparation and a checked round trip. */
  private def setUp(): SparkSession = {
    val s = newSession()
    graft.sql.AgeFunctions.register(s)
    graft.queries.Tables.registerViews(s, corpus)
    wl.prepare(s)
    val (pub, priv) = Workloads.keypair(s, s"graftbench-$seed-smoke")
    val ok = s.sql(s"SELECT age_decrypt(age_encrypt(CAST('graftbench' AS BINARY), '$pub'), '$priv') " +
      "= CAST('graftbench' AS BINARY)").head().getBoolean(0)
    if (!ok) errors += "set-up round trip failed"
    s
  }

  private def runOp(spark: SparkSession, op: Op, id: String): OpRecord = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, op.kind, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val outcome =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        op.execute(spark, df, id)
      } catch { case NonFatal(e) =>
        if (t1 == t0) t1 = System.nanoTime()
        Outcome(Some(s"${op.kind}: ${e.toString.linesIterator.nextOption().getOrElse("")}".take(400)))
      }
    val t2 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    sc.clearJobGroup()
    OpRecord(id, op.kind, t0, t1, t2, w0, w1, outcome)
  }

  def run(): Unit = {
    // set-up runs from the JVM's launch (class loading and the first
    // SparkContext count) to the first timed op (the warm-up counts)
    val spark = setUp()
    val sessionS = (epochNsNow() - jvmStart) / 1e9
    log(f"session $sessionS%.3f s")
    spark.sparkContext.addSparkListener(listener)

    // warm-up: part of the set-up, not of the measured phase, so it may
    // run ops concurrently where the workload allows it
    val w0 = System.nanoTime()
    val warm = wl.rounds("warm")
    val warmOps = (0 until wl.warmupRounds).flatMap(_ => warm.next()).zipWithIndex
    val pool = java.util.concurrent.Executors.newFixedThreadPool(wl.warmupThreads)
    try {
      val done = warmOps.map { case (op, k) =>
        pool.submit(() => runOp(spark, op, f"warm-$k%03d").outcome.error)
      }
      done.foreach(_.get().foreach(e => errors.synchronized(errors += s"warm-up: $e")))
    } finally pool.shutdown()
    val warmupS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up $warmupS%.3f s")
    val setupS = (epochNsNow() - jvmStart) / 1e9

    val records = mutable.ArrayBuffer.empty[OpRecord]
    val steal0 = Host.stealJiffies()
    val load0 = Host.loadAvg1()
    val cpu0 = Host.processCpuNs()
    val gc0 = Host.gcMs()
    val phase0 = System.nanoTime()
    val rounds = wl.rounds("run")
    var nRounds = 0
    val roundS = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() - phase0 < seconds * 1e9) {
      val r0 = System.nanoTime()
      rounds.next().foreach(op => records += runOp(spark, op, f"op-${records.size}%05d"))
      roundS += (System.nanoTime() - r0) / 1e9
      nRounds += 1
    }
    log(s"rounds ${roundS.map(x => f"$x%.3f").mkString(" ")} s")
    val phase1 = System.nanoTime()
    val jvmCpuS = (Host.processCpuNs() - cpu0) / 1e9
    val gcS = (Host.gcMs() - gc0) / 1e3
    val steal1 = Host.stealJiffies()
    val load1 = Host.loadAvg1()
    log(f"measured ${records.size} ops in $nRounds rounds, ${(phase1 - phase0) / 1e9}%.3f s")

    val layerMetrics = mutable.ArrayBuffer.empty[(String, (Double, String))]
    val probeRows = 1000
    // (job group, kernel loop us per value) of each measured UDF probe
    val udfProbes = mutable.ArrayBuffer.empty[(String, Double)]
    if (trace) {
      val root = tracer.add(-1, "layers", System.nanoTime(), System.nanoTime())
      val layers = new Layers(seed, tracer, root)
      layerMetrics ++= layers.core().map { case (k, v) => k -> (v, "us") }
      layerMetrics ++= layers.secrets(spark).map { case (k, v) => k -> (v, "ms") }
      layerMetrics ++= layers.register(spark).map { case (k, v) => k -> (v, "ms") }
      // one warm-up probe, then three measured probe/kernel-loop pairs
      (0 to 3).foreach { k =>
        val g = if (k == 0) "probe-udf-warm" else s"probe-udf-$k"
        spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
        val got = layers.udfProbe(spark, probeRows)
        if (got != probeRows) errors += s"udf probe: $got of $probeRows values round-tripped"
        spark.sparkContext.clearJobGroup()
        val kernelUs = layers.udfKernelUs(probeRows)
        if (k > 0) udfProbes += g -> kernelUs
      }
      tracer.spans(root) = tracer.spans(root).copy(end = System.nanoTime())
    }
    val sparkVersion = spark.version
    val defaultParallelism = spark.sparkContext.defaultParallelism
    // stopping drains the listener bus, so every task event has arrived
    spark.stop()

    val result = summarize(records.toSeq, setupS, sessionS, warmupS, phase0, phase1, jvmCpuS, gcS, nRounds,
      layerMetrics.toSeq, probeRows, udfProbes.toSeq,
      Seq("steal_jiffies" -> Json.num(if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1L),
        "loadavg_1m_start" -> Json.num(load0), "loadavg_1m_end" -> Json.num(load1),
        "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
        "master" -> Json.str(s"local[$cores]"),
        "executor_cores_used" -> Json.num(defaultParallelism.toLong),
        "spark_version" -> Json.str(sparkVersion),
        "jdk_version" -> Json.str(System.getProperty("java.version"))))
    Files.write(Paths.get(a("out")), result.getBytes(UTF_8))
    if (trace)
      Files.write(Paths.get(a("trace-out")), tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def epochNsNow(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def summarize(records: Seq[OpRecord], setupS: Double, sessionS: Double, warmupS: Double,
                        phase0: Long, phase1: Long, jvmCpuS: Double, gcS: Double, nRounds: Int,
                        layerMetrics: Seq[(String, (Double, String))], probeRows: Int, udfProbes: Seq[(String, Double)],
                        noise: Seq[(String, String)]): String = {
    val good = records.filter(_.ok)
    val failed = records.size - good.size
    records.flatMap(_.outcome.error).distinct.take(10).foreach(e => errors += e)
    val lat = good.map(_.latency)
    val phaseS = (phase1 - phase0) / 1e9
    val groups = records.map(r => listener.groups.getOrElse(r.id, new GroupStats))
    val n = math.max(1, records.size).toDouble
    val p50 = Stats.median(lat)

    // The gated metrics. Time the hypervisor lets other guests run
    // inflates wall time more than CPU time, so a wall-time change with
    // little CPU-time change is host noise or waiting.
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (p50, "s"),
      "ops_per_s" -> (good.size / phaseS, "1/s"),
      "cpu_s_per_op" -> (groups.map(_.cpuS).sum / n, "s"),
      "jvm_cpu_s_per_op" -> (jvmCpuS / n, "s"))
    // reported, not gated: peak RSS (mostly the JVM heap's own growth), and
    // metrics that are 0 or exist on one workload each
    val extra = mutable.LinkedHashMap[String, (Double, String)](
      "peak_rss_mb" -> (Host.peakRssMb(), "MiB"),
      "failed_ops_ratio" -> (failed / n, "-"))
    if (lat.size >= 100) extra("latency_p90_s") = (Stats.quantile(lat, 0.9), "s")
    workloadName match {
      case "column_crypto" => extra("rows_per_s") = (good.map(_.outcome.cryptoValues).sum / phaseS, "rows/s")
      case "bulk_crypto" =>
        extra("mb_per_s") = (good.map(_.outcome.cryptoBytes).sum / 1048576.0 / phaseS, "MiB/s")
      case _ =>
    }

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (trace) {
      layers ++= layerMetrics
      layers("sql.udf_us_per_row") = (Stats.median(udfProbes.map { case (g, kernelUs) =>
        listener.groups.getOrElse(g, new GroupStats).runS * 1e6 / probeRows - kernelUs }), "us")
      layers("queries.build_ms") = (Stats.median(records.map(r => (r.t1 - r.t0) / 1e6)), "ms")
      layers("stages.jobs_per_op") = (groups.map(_.jobs).sum / n, "count")
      layers("stages.stages_per_op") = (groups.map(_.stages).sum / n, "count")
      layers("stages.tasks_per_op") = (groups.map(_.tasks).sum / n, "count")
      layers("stages.scan_tasks_per_op") = (groups.map(_.scanTasks).sum / n, "count")
      layers("stages.executor_run_s_per_op") = (groups.map(_.runS).sum / n, "s")
      layers("stages.executor_cpu_s_per_op") = (groups.map(_.cpuS).sum / n, "s")
      // the JVM's collectors over the measured phase: in local mode the
      // executors and the planner share this JVM, and task-level GC time is
      // mostly 0 for short tasks
      layers("stages.gc_s_per_op") = (gcS / n, "s")
      layers("stages.shuffle_read_mb_per_op") = (groups.map(_.shuffleRead).sum / 1048576.0 / n, "MiB")
      layers("stages.shuffle_write_mb_per_op") = (groups.map(_.shuffleWrite).sum / 1048576.0 / n, "MiB")
      layers("stages.sql_executions_per_op") = (groups.map(_.sqlExecutions).sum / n, "count")
      layers("stages.spill_mb_per_op") = (groups.map(_.spill).sum / 1048576.0 / n, "MiB")
      layers("stages.max_task_s") = (Stats.median(groups.map(_.maxTaskS)), "s")
      layers("stages.core_utilization") =
        (groups.map(_.runS).sum / (records.map(_.latency).sum * cores), "ratio")
      // op wall time during which none of its stages was running
      val idle = records.zip(groups).map { case (r, g) =>
        val busy = Intervals.covered(g.stageIntervals.toSeq.map { case (s, e) =>
          (math.max(s, r.w0), math.min(e, r.w1)) })
        (r.w1 - r.w0 - busy) / 1e3
      }
      layers("dispatch.idle_s_per_op") = (idle.sum / n, "s")
      layers("trace.latency_p50_s") = (p50, "s")

      // spans: op -> build / execute -> job -> stage intervals
      records.zip(groups).foreach { case (r, g) =>
        val op = tracer.add(-1, "op", r.t0, r.t2, Map("op" -> r.id, "kind" -> r.kind))
        val build = tracer.add(op, "queries.build", r.t0, r.t1)
        val exec = tracer.add(op, "execute", r.t1, r.t2)
        def ns(ms: Long): Long = ms * 1000000L + clockOffset
        val jobs = g.jobIntervals.toSeq.map { case (job, s, e) =>
          val parent = if (ns(s) < r.t1) build else exec
          (tracer.add(parent, "spark.job", ns(s), ns(e), Map("job" -> job.toString)), s, e)
        }
        g.stageIntervals.foreach { case (s, e) =>
          val parent = jobs.find(j => j._2 <= s && j._3 >= e).map(_._1).getOrElse(exec)
          tracer.add(parent, "spark.stage", ns(s), ns(e))
        }
      }
    }

    val byKind = good.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      s"op.$k.median_s" -> Json.num(Stats.median(rs.map(_.latency)))
    }
    def metricJson(m: Iterable[(String, (Double, String))]): String =
      Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> Json.num(seed),
      "correct" -> (if (failed == 0 && errors.isEmpty) "true" else "false"),
      "attempted" -> Json.num(records.size.toLong),
      "failed" -> Json.num(failed.toLong),
      "end_to_end" -> metricJson(e2e),
      "extra" -> metricJson(extra),
      "per_layer" -> metricJson(layers),
      "per_op" -> Json.obj(byKind),
      "self_time_s" -> (if (trace) Json.obj(tracer.selfTimes.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }) else "{}"),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "measured_s" -> Json.num(phaseS),
      "rounds" -> Json.num(nRounds.toLong),
      "session_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "noise" -> Json.obj(noise),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
  }
}
