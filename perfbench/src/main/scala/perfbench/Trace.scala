package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Task accounting for one job-description group. */
final class GroupAgg {
  var taskS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var firstStartMs = Long.MaxValue
  var lastEndMs = Long.MinValue
  val taskTimes = mutable.ArrayBuffer.empty[Double]
  def skew: Double =
    if (taskTimes.isEmpty) 0.0
    else taskTimes.max / math.max(Stats.median(taskTimes.toSeq), 1e-3)
  /** From the first job's start to the last job's end. */
  def wallS: Double = if (lastEndMs < firstStartMs) 0.0 else (lastEndMs - firstStartMs) / 1e3
}

/** Benchmark-owned Spark listener. Jobs are grouped by the job description
  * that was set when they started: `Pipeline.run` tags its work
  * `graft-stage:<name>` and `graft-commit:<name>`; the benchmark tags its
  * own phases `perfbench:<phase>`. Untagged jobs land in "other". */
final class Recorder extends SparkListener {
  private val lock = new Object
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, GroupAgg]
  private var jobCount = 0L
  private var taskCount = 0L
  private var shuffleBytes = 0L
  private var allJobs = 0L
  private var untaggedTaskS = 0.0

  private def group(desc: String) = groups.getOrElseUpdate(desc, new GroupAgg)

  override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("other")
    js.stageIds.foreach(id => stageGroup(id) = desc)
    jobGroup(js.jobId) = desc
    val g = group(desc)
    g.firstStartMs = math.min(g.firstStartMs, js.time)
    jobCount += 1
    allJobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
    jobGroup.remove(je.jobId).foreach { desc =>
      val g = group(desc)
      g.lastEndMs = math.max(g.lastEndMs, je.time)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val desc = stageGroup.getOrElse(te.stageId, "other")
      val g = group(desc)
      val runS = m.executorRunTime / 1e3
      if (!desc.startsWith("graft-")) untaggedTaskS += runS
      taskCount += 1
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      g.taskS += runS
      g.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      g.outputBytes += m.outputMetrics.bytesWritten
      g.taskTimes += runS
    }
  }

  /** Starts a new window; the run totals are kept. */
  def reset(): Unit = lock.synchronized {
    groups.clear(); jobCount = 0; taskCount = 0; shuffleBytes = 0
  }
  def jobs: Long = lock.synchronized(jobCount)
  def tasks: Long = lock.synchronized(taskCount)
  def shuffleMb: Double = lock.synchronized(shuffleBytes / 1e6)
  def snapshot: Map[String, GroupAgg] = lock.synchronized(groups.toMap)
  /** Jobs over the run, and task seconds of jobs `Pipeline.run` did not tag. */
  def runJobs: Long = lock.synchronized(allJobs)
  def runUntaggedTaskS: Double = lock.synchronized(untaggedTaskS)
}

/** Counts the rows every query scans from one Parquet directory, summed
  * over the scan nodes of each executed plan (adaptive stages included).
  * Counting rows at the scan, not records read by tasks, keeps reads of
  * cached blocks out of the figure. */
final class ScanCounter(dir: String) extends QueryExecutionListener {
  private val rows = new java.util.concurrent.atomic.AtomicLong()
  def total: Long = rows.get()
  def reset(): Unit = rows.set(0)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    scans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.stripSuffix("/").endsWith(dir)))
      .foreach(s => rows.addAndGet(s.metrics("numOutputRows").value))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** In-memory spans: name, start, end and the span that caused it. */
object Spans {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  @volatile var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.synchronized(done += Span(id, name, parent, t0, t1))
      }
    }

  def all: Seq[Span] = done.synchronized(done.toSeq.sortBy(_.startNs))
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of it covered by the span's children. */
  def selfSeconds(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = {
    val spans = all
    spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s, spans)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Peak resident set size (VmHWM), falling back to peak heap use. */
  def peakRssMb: Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm =
      if (status.canRead) {
        val src = scala.io.Source.fromFile(status)
        try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        finally src.close()
      } else None
    hwm.getOrElse(ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(_.getPeakUsage.getUsed).sum / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
  /** The highest whole percentile with at least ten samples beyond it, as
    * (percentile, value); with fewer than 11 samples, the maximum (p100). */
  def tail(xs: Seq[Double]): (Int, Double) =
    if (xs.size < 11) (100, xs.max)
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      (p, percentile(xs, p))
    }
}
