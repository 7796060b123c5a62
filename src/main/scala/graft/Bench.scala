package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — ALWAYS lands a parseable one-line JSON artifact.
  *
  * The complete artifact line is (re)printed after EVERY finished unit of
  * work and once more from a shutdown hook, so the freshest complete line
  * is the last thing on stdout wherever a SIGTERM/timeout lands.
  *
  * Fixed protocol (declared in BASELINE.md): memory probe → corpus →
  * round 1 (1-core leg, 4-core leg) → gate passes 1 and 2 → rounds 2-4.
  * Every unit obeys one start rule ([[mayStart]]) against ONE deadline
  * from main() entry that charges everything. No decision reads the
  * efficiency or the spread, so the sample count cannot depend on the
  * reported statistic; what did not run is named in "shed".
  *
  * Legs are fresh JVMs pinned to `cores` CPUs (see [[BenchLeg]]). Rounds
  * interleave 1,4, 1,4, … and each leg reports its min over rounds with
  * every sample disclosed (`runs_sec`): host throughput drifts ±30-80%
  * between identical runs (BASELINE.md), so min-of-k estimates the
  * uncontended machine and interleaving stops one contention window from
  * owning every sample of one leg. The headline scaling_efficiency is
  * (thr_4/thr_1)/4: the same job at two pinned parallelism levels, the
  * sandbox stand-in for N and 4N executors.
  */
object Bench {

  /** The driver records only a 2000-char tail of the run's output, so a
    * complete line plus trailing runner noise must fit inside it. */
  private[graft] val MaxLineChars = 1900

  /** All-inclusive wall budget from main() entry: keeps the whole run,
    * sbt boot included, inside the driver's ~1800 s outer timeout. */
  private[graft] val DeadlineSec = 1680.0
  /** No unit starts in the last TailSec before the deadline: the final
    * line lands in-band with room to spare for scratch delete + JVM exit. */
  private[graft] val TailSec = 60.0

  /** 24k pages over a FIXED 4k-entity KG: the production shape is a fixed
    * KG with a growing corpus (coupling entities to pages would grow
    * candidates-per-mention and make the bench quadratic). */
  private[graft] val Pages = 24000
  private[graft] val Entities = 4000
  private[graft] val Tag = s"pages${Pages / 1000}k"
  private[graft] val Rounds = 4
  private[graft] val GatePasses = 2
  private[graft] val LegCores = Seq(1, 4)

  /** One leg sample: `sec` is the measured window (Pipeline.run + triples
    * count); the rest is regime evidence from the leg's listener. */
  private[graft] case class Run(triples: Long, sec: Double, taskSec: Double,
      gcSec: Double, jitSec: Double)

  /** Best-run stats for one leg. */
  private[graft] case class LegStat(cores: Int, sec: Double, tps: Double,
      taskSec: Double, gcSec: Double, jitSec: Double, runsSec: Seq[Double])

  /** (thr_high/thr_low) / (cores_high/cores_low) over the point's legs;
    * defined once both legs have a sample. */
  private[graft] def eff(legs: Seq[LegStat]): Option[Double] =
    if (legs.size >= 2)
      Some((legs.last.tps / legs.head.tps) /
        (legs.last.cores.toDouble / legs.head.cores))
    else None

  /** The one start rule. A unit starts only outside the emission tail
    * (`beforeTail` = seconds left before deadline − [[TailSec]]) and only
    * if the last measured wall of its kind fits in that time; the first
    * unit of a kind has no wall yet and always starts outside the tail. */
  private[graft] def mayStart(lastWall: Option[Double], beforeTail: Double): Boolean =
    beforeTail > 0 && lastWall.forall(_ <= beforeTail)

  /** Per-leg stats with SYMMETRIC TRUNCATION: each leg's best is the min
    * over its first k rounds, k = the smallest sample count across the
    * legs. A kill/shed mid-round must not leave one leg with an extra
    * (possibly luckier) sample in the ratio. All samples stay disclosed
    * in runs_sec. */
  private[graft] def legStatsFor(m: collection.Map[Int, Vector[Run]],
                                 legCores: Seq[Int]): Seq[LegStat] = {
    val present = legCores.filter(c => m.get(c).exists(_.nonEmpty))
    val k =
      if (present.size >= 2) present.map(c => m(c).size).min else Int.MaxValue
    present.map { c =>
      val rs = m(c)
      val best = rs.take(k).minBy(_.sec)
      LegStat(c, best.sec, best.triples / best.sec, best.taskSec,
        best.gcSec, best.jitSec, rs.map(_.sec))
    }
  }

  private def fmt(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", v: java.lang.Double)

  /** ~2 s single-vs-4-thread memcpy probe over heap arrays (>LLC-sized,
    * so it measures DRAM bandwidth): returns (single, aggregate-of-4)
    * GB/s. Its ratio/4 is the box's own 1→4-thread memory-fabric scaling
    * — the hard ceiling for any shuffle/scan-heavy job's efficiency on
    * ONE box (a multi-host cluster does not share memory channels).
    * A worker that cannot allocate its arrays still releases the start
    * latch, and the probe then throws an Exception naming the cause.
    * `size` (bytes per array) is a test seam; 64 MiB is the probe. */
  private[graft] def memProbe(size: Int = 64 << 20): (Double, Double) = {
    def pass(nThreads: Int, runMs: Long): Double = {
      val ready = new java.util.concurrent.CountDownLatch(nThreads)
      val go = new java.util.concurrent.CountDownLatch(1)
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      @volatile var stopAt = 0L
      val ths = (1 to nThreads).map { _ =>
        val t = new Thread(() => {
          val bufs =
            try {
              val src = new Array[Byte](size); val dst = new Array[Byte](size)
              java.util.Arrays.fill(src, 1.toByte) // touch pages outside the clock
              Some((src, dst))
            } catch { case e: Throwable => failure.compareAndSet(null, e); None }
            finally ready.countDown()
          go.await()
          for ((src, dst) <- bufs) {
            var b = 0L
            while (System.nanoTime() < stopAt) {
              System.arraycopy(src, 0, dst, 0, size); b += size
            }
            bytes.addAndGet(b)
          }
        })
        t.setDaemon(true); t.start(); t
      }
      ready.await()
      val t0 = System.nanoTime()
      stopAt = t0 + runMs * 1000000L
      go.countDown()
      ths.foreach(_.join())
      Option(failure.get).foreach(e =>
        throw new RuntimeException(s"memory probe: a worker could not allocate its arrays: $e", e))
      bytes.get() / ((System.nanoTime() - t0) / 1e9) / 1e9
    }
    pass(1, 300) // JIT warm, discarded
    (pass(1, 700), pass(4, 700))
  }

  /** Build the single-line artifact from the current state. Complete and
    * valid at every call site; later calls supersede earlier ones. A
    * governor drops point detail, then gate decimals, to keep the line
    * under [[MaxLineChars]]. */
  private[graft] def buildLine(gates: Seq[(String, Double)], sf: String,
      legs: Seq[LegStat], probe: Option[(Double, Double)], gatePasses: Int,
      elapsedSec: Double, deadlineSec: Double, shed: Seq[String]): String = {

    def attempt(gateDp: Int, pointDetail: Boolean): String = {
      val total = gates.map(_._2).sum
      val qs = gates.map { case (k, v) => "\"" + k + "\":" + fmt(v, gateDp) }
        .mkString("{", ",", "}")
      def legJson(l: LegStat): String = {
        val runs = l.runsSec.map(r => fmt(r, 0)).mkString("[", ",", "]")
        s""""local${l.cores}":{"sec":${fmt(l.sec, 1)},"triples_per_sec":${fmt(l.tps, 1)},"task_sec":${fmt(l.taskSec, 1)},"gc_sec":${fmt(l.gcSec, 1)},"jit_sec":${fmt(l.jitSec, 1)},"runs_sec":$runs}"""
      }
      val pts =
        if (legs.isEmpty) "{}"
        else {
          val e = eff(legs).map(v => s""""eff":${fmt(v, 3)},""").getOrElse("")
          val detail =
            if (pointDetail) {
              val secs = legs.map(l => fmt(l.sec, 1)).mkString("[", ",", "]")
              val tasks = legs.map(l => fmt(l.taskSec, 0)).mkString("[", ",", "]")
              s""","sec":$secs,"task_sec":$tasks"""
            } else ""
          s"""{"$Tag":{$e"pages":$Pages$detail}}"""
        }
      val pipeFields: Seq[String] = Seq(
        Some(s""""pages":$Pages"""),
        Some(s""""entities":$Entities"""),
        Some(legs.map(legJson).mkString(",")).filter(_.nonEmpty),
        eff(legs).map(e =>
          s""""scaling_efficiency":${fmt(e, 3)},"scaling_source":"$Tag""""),
        Some(s""""points":$pts"""),
        probe.map { case (a, b) =>
          s""""mem_probe":{"single_gbps":${fmt(a, 2)},"x4_gbps":${fmt(b, 2)},"scaling":${fmt(b / a / 4, 3)}}"""
        },
        Some(s""""gate_passes":$gatePasses"""),
        Some(s""""elapsed_sec":${elapsedSec.toInt}"""),
        Some(s""""deadline_sec":${deadlineSec.toInt}"""),
        Some(s""""shed":${shed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
      ).flatten
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,"sf":"$sf","pipeline":{${pipeFields.mkString(",")}}}"""
    }

    val steps = Seq((2, true), (2, false), (1, false), (0, false))
    steps.iterator.map { case (dp, detail) => attempt(dp, detail) }
      .find(_.length <= MaxLineChars).getOrElse(attempt(0, pointDetail = false))
  }

  private def gateSession(cpus: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-gates-$cpus")
      .config("spark.local.dir", localDir) // RAM-backed (BenchLeg.scratchRoot)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the bench corpus is tens of MB — default 128MB splits would run
      // scans with 1-3 tasks regardless of cores
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The `n` least-loaded CPU ids over a 250 ms /proc/stat window, ties
    * broken randomly (on an idle box every core ties — a fixed tiebreak
    * would re-concentrate every run on the same cores). Falls back to
    * 0..n−1 when /proc/stat is unreadable. */
  private[graft] def idleCpus(n: Int): Seq[Int] = {
    def snap(): Map[Int, (Long, Long)] =
      scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
        src.getLines()
          .filter(l => l.startsWith("cpu") && l.length > 3 && l(3).isDigit)
          .map { l =>
            val p = l.trim.split("\\s+")
            val id = p(0).drop(3).toInt
            val vals = p.tail.map(_.toLong)
            val idle = vals(3) + (if (vals.length > 4) vals(4) else 0L)
            (id, (idle, vals.sum))
          }.toMap
      }
    try {
      val a = snap(); Thread.sleep(250); val b = snap()
      val rnd = new scala.util.Random()
      b.toSeq.map { case (id, (i2, t2)) =>
        val (i1, t1) = a.getOrElse(id, (i2, t2))
        val dt = math.max(1L, t2 - t1)
        (id, (i2 - i1).toDouble / dt)
      }.sortBy { case (id, idleFrac) => (-idleFrac, rnd.nextInt()) }
        .take(n).map(_._1).sorted
    } catch {
      case _: Exception => 0 until n
    }
  }

  private def jNum(line: String, key: String): Option[Double] =
    (s""""$key":(-?[0-9.]+)""").r.findFirstMatchIn(line).map(_.group(1).toDouble)

  /** Fork one pinned leg JVM; returns its sample (if it printed one) and
    * how the leg was lost, if it was:
    *  - "killed": an EXTERNAL kill signal (rc 143/137/124) — the
    *    environment is tearing the bench down, so the caller stops
    *    starting work. A contract line already printed means the kill
    *    landed in the leg's teardown, AFTER the measurement: it is kept;
    *  - "timeout": OUR kill-timer fired — evidence about this leg only;
    *  - "infra": could not fork, or no contract line. There is no
    *    in-process substitute: an unpinned local[1] leg free-rides every
    *    other core for GC/JIT, the error the pinned fork exists to prevent.
    * Leg stdout goes to a scratch file (read after exit — no pipe to
    * deadlock on while the kill-timer runs); stderr is inherited. */
  private def forkLeg(pagesPath: String, dumpPath: String, workDir: String,
                      cores: Int, killAfterSec: Double): (Option[Run], Option[String]) = {
    val javaHome = System.getProperty("java.home")
    val cp = System.getProperty("java.class.path")
    if (cp == null || !cp.contains("classes")) return (None, Some("infra"))
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    // the JDK17 module opens Spark needs outside spark-submit: the same
    // ones this JVM was started with (build.sbt's jdk17AddOpens)
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cpuSet = idleCpus(cores).mkString(",")
    System.err.println(s"[bench] leg cores=$cores pinned to cpus {$cpuSet} " +
      f"killAfter=${killAfterSec}%.0fs")
    val outFile = new java.io.File(s"$workDir-stdout.txt")
    outFile.getParentFile.mkdirs()
    val cmd: Seq[String] =
      Seq("taskset", "-c", cpuSet, s"$javaHome/bin/java",
        s"-XX:ActiveProcessorCount=$cores", s"-Xmx$heap",
        // stock JDK17 collector (G1), deliberately untouched: collector
        // choice shifts work between mutator and GC threads differently
        // at different core counts, so any non-default pick would need a
        // per-leg fairness argument — the default needs none
        s"-Dspark.local.dir=$workDir/_sparklocal",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      addOpens ++ Seq("-cp", cp, "graft.BenchLeg",
        pagesPath, dumpPath, workDir, cores.toString)
    try {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(outFile)
      val proc = pb.start()
      val finished = proc.waitFor(math.max(1L, (killAfterSec * 1000).toLong),
        java.util.concurrent.TimeUnit.MILLISECONDS)
      if (!finished) {
        System.err.println(s"[bench] leg cores=$cores overran its " +
          f"kill-timer (${killAfterSec}%.0fs) — killing the leg and shedding it")
        proc.destroyForcibly()
        proc.waitFor(15, java.util.concurrent.TimeUnit.SECONDS)
        return (None, Some("timeout"))
      }
      val rc = proc.exitValue()
      val out =
        try new String(java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        catch { case _: Exception => "" }
      val parsedRun = out.linesIterator.toSeq.reverse
        .find(_.startsWith("{\"cores\"")).flatMap { l =>
          for (sec <- jNum(l, "sec"); tr <- jNum(l, "triples"))
            yield Run(tr.toLong, sec, jNum(l, "task_sec").getOrElse(0.0),
              jNum(l, "gc_sec").getOrElse(0.0), jNum(l, "jit_sec").getOrElse(0.0))
        }
      if (rc == 143 || rc == 137 || rc == 124) {
        System.err.println(s"[bench] forked leg cores=$cores killed (rc=$rc)" +
          (if (parsedRun.nonEmpty) " after completing its measurement" else ""))
        (parsedRun, Some("killed"))
      } else if (rc != 0 || parsedRun.isEmpty) {
        System.err.println(s"[bench] forked leg cores=$cores rc=$rc; out=$out")
        (None, Some("infra"))
      } else (parsedRun, None)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] fork failed (${e.getMessage})")
        (None, Some("infra"))
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def beforeTail: Double = DeadlineSec - TailSec - elapsed

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    BenchLeg.sweepStaleScratch()
    val benchRoot =
      s"${BenchLeg.scratchRoot}/graft-bench-${ProcessHandle.current().pid()}"
    def deleteDir(path: String): Unit =
      try scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
      catch { case _: Exception => () }

    // ---- bench state (read by emit + the shutdown hook) ----
    val gateMins = scala.collection.mutable.Map[String, Double]()
    var gatePassesDone = 0
    val runs = scala.collection.mutable.LinkedHashMap[Int, Vector[Run]]()
    val lastWall = scala.collection.mutable.Map[String, Double]()
    var probe: Option[(Double, Double)] = None
    var shed = Vector.empty[String]
    @volatile var stopAll = false
    @volatile var lastLine = ""

    def emit(): Unit = synchronized {
      lastLine = buildLine(gateMins.toSeq.sortBy(_._1), sfDir,
        legStatsFor(runs, LegCores), probe,
        gatePassesDone, elapsed, DeadlineSec, shed)
      println(lastLine)
      System.out.flush()
    }
    // re-print the freshest line at shutdown: a SIGTERM mid-leg may leave
    // runner noise (stack traces, logs) after the last in-band emission
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (lastLine.nonEmpty) { println(lastLine); System.out.flush() }
      deleteDir(benchRoot)
    }))

    /** Run `body` as one unit of `kind` under [[mayStart]], recording its
      * wall for the kind's next start; otherwise shed `shedTag`. */
    def unit(kind: String, shedTag: String)(body: => Unit): Unit =
      if (stopAll) ()
      else if (mayStart(lastWall.get(kind), beforeTail))
        lastWall(kind) = timed(body)._2
      else {
        System.err.println(f"[bench] shedding $shedTag (${beforeTail}%.0fs before the tail)")
        shed :+= shedTag; emit()
      }

    /** One pinned leg of round `n`: the kill-timer is the time left
      * before the tail. */
    def leg(n: Int, cores: Int, pp: String, dp: String): Unit = {
      // flush dirty pages now, so their writeback lands outside the window
      try { new ProcessBuilder("sync").inheritIO().start().waitFor() }
      catch { case _: Exception => }
      val work = s"$benchRoot/work-$cores-$n"
      val (run, lost) = forkLeg(pp, dp, work, cores, beforeTail)
      lost.foreach { how =>
        shed :+= s"${how}_${Tag}_c$cores"
        if (how == "killed") stopAll = true
      }
      // stage outputs are per-leg scratch; drop them so repeats can't
      // resume from _COMMITTED markers and rounds don't fill the tmpfs
      deleteDir(work)
      run.foreach(r => runs(cores) = runs.getOrElse(cores, Vector.empty) :+ r)
      emit()
    }

    def round(n: Int, pp: String, dp: String): Unit =
      unit("round", s"round${n}_$Tag") {
        LegCores.foreach(c => unit(s"leg$c", s"leg_${Tag}_c$c")(leg(n, c, pp, dp)))
      }

    /** One pass over the gate queries at local[cpus] on the sf dir,
      * folding per-query minima into gateMins and emitting after every
      * query, so a kill mid-pass still leaves the partial timings in the
      * artifact. A pass stops starting queries inside the tail;
      * gate_passes counts only completed passes. */
    def gatePass(n: Int, spark: SparkSession): Unit =
      unit("gates", s"gates_pass$n") {
        var complete = true
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (stopAll || beforeTail <= 0) complete = false
          else {
            val (_, sec) = timed {
              try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
            }
            gateMins(name) = math.min(gateMins.getOrElse(name, Double.MaxValue), sec)
            emit()
          }
        }
        if (complete) gatePassesDone += 1 else shed :+= "gates_partial"
        emit()
      }

    try {
      probe = try Some(memProbe()) catch { case _: Exception => None }
      emit()

      val spark = gateSession(cpus, s"$benchRoot/gates-local")
      var corpus: Option[(String, String)] = None
      unit("corpus", s"point_$Tag") {
        val (pp, dp) = (s"$benchRoot/corpus/pages", s"$benchRoot/corpus/dump")
        graft.kg.Fixtures.pages(spark, Pages, Entities)
          .write.mode("overwrite").parquet(pp)
        graft.kg.Fixtures.dumpLines(spark, Entities)
          .write.mode("overwrite").parquet(dp)
        corpus = Some((pp, dp))
      }
      corpus.foreach { case (pp, dp) => round(1, pp, dp) }
      (1 to GatePasses).foreach(n => gatePass(n, spark))
      spark.stop()
      corpus.foreach { case (pp, dp) => (2 to Rounds).foreach(n => round(n, pp, dp)) }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] aborting on error: $e")
        e.printStackTrace()
    } finally {
      deleteDir(benchRoot)
      emit()
    }
  }
}
