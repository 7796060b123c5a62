package graft

import org.apache.spark.sql.SparkSession

/** One pipeline leg of the scaling benchmark, run in its OWN JVM (forked
  * by [[Bench]], pinned with `taskset` to exactly `cores` CPUs and
  * started with `-XX:ActiveProcessorCount=cores`) — the sandbox stand-in
  * for "spark-submit at N and 4N executors": an N-executor cluster has N
  * cores TOTAL for GC, JIT and Spark's auxiliary threads, whereas a
  * local[1] leg in a shared many-core JVM free-rides the idle cores; and a
  * long-lived JVM carries codegen classes and old-gen pressure from
  * earlier work into whichever leg runs later.
  *
  * args: pagesPath dumpPath workDir cores. Runs a JIT warmup, drains the
  * compile queue ([[settleJit]]), then times ONE Pipeline.run + triples
  * count: a second pass in the same JVM does not run warm (Spark generates
  * fresh whole-stage-codegen classes each run and re-JITs them), so
  * fresh-JVM min-of-k is the protocol. Prints ONE contract line:
  * {"cores":N,"sec":S,"triples":T,"task_sec":A,"gc_sec":G,"jit_sec":J,
  *  "warmup_sec":W}
  * sec (after session boot) is the measurement; task_sec near-parity
  * across legs shows the same work at both sizes, gc/jit attribute any
  * wall residue, and warmup_sec includes the JIT settle.
  */
object BenchLeg {

  /** RAM-backed scratch root for the corpus, stage workdirs and Spark
    * local dirs. On a cluster every executor brings its own local disk, so
    * scratch bandwidth scales with cluster size; this box's one shared
    * virtio disk drifts ~1.7× between identical writes (the identical
    * pinned 4-core leg measured 145-295 s on disk vs 117 s on tmpfs).
    * /dev/shm is RAM, so it is only chosen with [[ShmHeadroomBytes]]
    * usable (ENOSPC mid-leg would be worse than the disk's drift).
    * Override with SPARK_GRAFT_BENCH_SCRATCH. */
  private[graft] lazy val scratchRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_SCRATCH", {
      val shm = new java.io.File("/dev/shm")
      val root =
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= ShmHeadroomBytes)
          "/dev/shm"
        else System.getProperty("java.io.tmpdir", "/tmp")
      System.err.println(s"[bench] scratch root: $root")
      root
    })

  /** A full 24k-page run peaked at 35.5 MB of /dev/shm (corpus 7.1 MB, a
    * leg's stage, warmup and spark.local dirs, the gate session's local
    * dir; 1 s df sampling). 2 GiB is ~60× that peak, room for other
    * tenants of /dev/shm to grow during the run. */
  private[graft] val ShmHeadroomBytes: Long = 2L << 30

  /** Delete scratch left by a SIGKILLed prior run (shutdown hooks don't
    * fire on SIGKILL, and stale tmpfs dirs pin RAM until reboot). Called
    * once at Bench startup, before this run's own dirs exist; the driver
    * runs one bench at a time, so any matching dir is dead. */
  private[graft] def sweepStaleScratch(): Unit = {
    val self = s"-${ProcessHandle.current().pid()}"
    val fs = Option(new java.io.File(scratchRoot).listFiles()).getOrElse(Array.empty)
    fs.foreach { f =>
      val n = f.getName
      if (n.startsWith("graft-bench-") && !n.endsWith(self)) {
        System.err.println(s"[bench] sweeping stale scratch ${f.getPath}")
        try scala.reflect.io.Directory(f).deleteRecursively()
        catch { case _: Exception => }
      }
    }
  }

  /** Pipeline-tuned session with AQE partition-coalescing OFF — AQE
    * otherwise coalesces the pipeline's mid-size shuffles down to 1-2
    * post-shuffle partitions and serializes whole stages. 8 MB splits so
    * a tens-of-MB corpus still scans with `cores` tasks. spark.local.dir
    * comes from the -D property Bench sets per leg (RAM-backed). */
  private def pipelineSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-leg-$cores")
      // 4× the high leg's cores and NOT scaled per leg: shuffle.partitions
      // is a job property, not a cluster-size property — the N-core leg
      // must run the SAME task layout with less parallelism
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runPipeline(spark: SparkSession, pages: org.apache.spark.sql.DataFrame,
                          dump: org.apache.spark.sql.DataFrame, workDir: String): Long =
    graft.kg.Pipeline.run(spark, pages, dump, workDir).triples.count()

  /** Leg-level diagnostics: where did the wall go — mutator task time,
    * GC, or JIT compilation still running inside the timed window?
    * Counter windows are made exact by draining the async listener bus
    * at both edges (GraftListenerBridge). */
  private final class Diag(spark: SparkSession) {
    @volatile var taskSec = 0.0
    @volatile var gcSec = 0.0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          taskSec += m.executorRunTime / 1e3
          gcSec += m.jvmGCTime / 1e3
        }
      })
    private var jit0 = 0L
    def mark(): Unit = {
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      taskSec = 0.0; gcSec = 0.0; jit0 = totalJitMs
    }
    def jitSinceMark: Double = (totalJitMs - jit0) / 1e3
    /** Drains the bus first, so the counters include every finished stage. */
    def report(tag: String, wall: Double): Unit = {
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      System.err.println(f"[bench-leg] $tag wall=$wall%.1f taskSec=$taskSec%.1f " +
        f"gcSec=$gcSec%.1f jitSec=$jitSinceMark%.1f")
    }
  }

  private def totalJitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime

  /** Drain the JIT compile queue OUTSIDE the timed window: idle the
    * mutator in 3 s slices until the compiler goes quiet (<0.8 s of
    * compiler time per slice) or `capSec` elapses. The queue a warmup
    * leaves keeps burning CPU, and on a pinned 1-core leg it steals the
    * core INSIDE the window (measured: 126 s of in-window JIT, wall
    * 133.8 s vs 84-91 s quiet). Both legs run the same settle; the cap is
    * a safety valve well above every observed settle (one slice). */
  private def settleJit(capSec: Double): Double = {
    val t0 = System.nanoTime()
    var last = totalJitMs
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < capSec) {
      Thread.sleep(3000)
      val now = totalJitMs
      quiet = now - last < 800
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = try {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(pagesPath, dumpPath, workDir, coresStr) = args
    val cores = coresStr.toInt
    val spark = pipelineSession(cores)
    val diag = new Diag(spark)
    val w0 = System.nanoTime()
    // JIT/classload warmup over a slice of the same inputs (same code
    // paths, negligible data): a fresh JVM otherwise spends ~30-60 s
    // compiling the Spark stack + generated code INSIDE the timed window,
    // while a real cluster's executors are warm long-running JVMs
    val warm = s"$workDir-warmup"
    try runPipeline(spark, spark.read.parquet(pagesPath).limit(800),
      spark.read.parquet(dumpPath).limit(300), warm)
    catch { case e: Exception =>
      System.err.println(s"[bench-leg] warmup failed (non-fatal): $e")
    } finally scala.reflect.io.Directory(new java.io.File(warm)).deleteRecursively()
    val settle = settleJit(150.0)
    System.err.println(f"[bench-leg] jit settle wall=$settle%.1f")
    val wWall = (System.nanoTime() - w0) / 1e9
    diag.report("warmup", wWall)

    diag.mark()
    val t0 = System.nanoTime()
    val nTriples = runPipeline(spark, spark.read.parquet(pagesPath),
      spark.read.parquet(dumpPath), s"$workDir/stages")
    val sec = (System.nanoTime() - t0) / 1e9
    diag.report("main", sec)
    val (taskSec, gcSec, jitSec) = (diag.taskSec, diag.gcSec, diag.jitSinceMark)
    spark.stop()
    // contract line (see object header)
    println(f"""{"cores":$cores,"sec":$sec%.3f,"triples":$nTriples,"task_sec":$taskSec%.1f,"gc_sec":$gcSec%.1f,"jit_sec":$jitSec%.1f,"warmup_sec":$wWall%.1f}""")
  } catch {
    case e: Throwable =>
      // a SIGTERM'd leg runs its shutdown hooks (which stop the
      // SparkContext) while main is still mid-pipeline; the resulting
      // "stopped SparkContext" throw is teardown noise, not a failure —
      // keep the inherited stderr (and the driver's recorded tail window)
      // free of stack traces. The JVM's signal handler owns the exit code
      // (143), so the parent still classifies the kill. A genuine failure
      // with NO shutdown in progress rethrows loudly.
      val shuttingDown =
        try {
          val probe = new Thread(() => ())
          Runtime.getRuntime.addShutdownHook(probe)
          Runtime.getRuntime.removeShutdownHook(probe)
          false
        } catch { case _: IllegalStateException => true }
      if (shuttingDown)
        System.err.println(
          s"[bench-leg] aborting (JVM shutdown in progress): ${e.getMessage}")
      else throw e
  }
}
