package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark task metrics summed for one job group (one op). Times are in
  * seconds, sizes in bytes. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var scanTasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var maxTaskS = 0.0
  var sqlExecutions = 0
  /** (submitted, completed) epoch-millisecond intervals of its stages. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (jobId, start, end) epoch-millisecond intervals of its jobs. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Attributes every task, stage and job to the job group that ran it. The
  * harness tags each op with its own group, so the listener sees which op
  * a task belongs to. Events arrive asynchronously on Spark's listener bus;
  * read the stats only after `SparkContext.stop()` has drained it. */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val scanStages = mutable.HashSet.empty[Int]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup(e.jobId) = (g, e.time)
    stats(g).jobs += 1
    e.stageInfos.foreach { s =>
      stageGroup.getOrElseUpdate(s.stageId, g)
      if (s.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages += s.stageId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      stats(g).jobIntervals += ((e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "-")
    val s = stats(g)
    s.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime) s.stageIntervals += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    if (scanStages.contains(e.stageId)) s.scanTasks += 1
    s.maxTaskS = math.max(s.maxTaskS, e.taskInfo.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      s.runS += m.executorRunTime / 1e3
      s.cpuS += m.executorCpuTime / 1e9
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      stats(x.jobGroupId.getOrElse("-")).sqlExecutions += 1
    }
    case _ =>
  }
}

/** One traced interval. `start`/`end` are nanoseconds on the harness's
  * monotonic clock; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span store, written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, start: Long, end: Long,
          attrs: Map[String, String] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, name, start, end, attrs)
    id
  }

  /** Total self time per span name: duration minus the part of it that
    * its children's intervals cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.covered(
          kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).toSeq)
        (s.dur - covered) / 1e9
      }.sum
    }
  }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "name" -> Json.str(s.name), "start_ns" -> Json.num(s.start),
      "end_ns" -> Json.num(s.end)) ++ s.attrs.map { case (k, v) => k -> Json.str(v) })
  }
}

object Intervals {
  /** Length of the union of [a, b) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Host noise context for one run. */
object Host {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    catch { case _: Exception => None }

  /** Cumulative hypervisor steal jiffies (8th value of /proc/stat's cpu line), -1 if unknown. */
  def stealJiffies(): Long =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)

  def loadAvg1(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** CPU time of all threads of this JVM: planning and job scheduling,
    * executors, GC and JIT. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** Total collection time of the JVM's garbage collectors, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** VmHWM of this JVM in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
