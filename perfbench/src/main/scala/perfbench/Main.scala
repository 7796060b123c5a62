package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, traceOut: String, scale: String)

/** Entry point: `--workload pipeline|lookup --seed N --seconds S
  * --trace 0|1 --work DIR [--trace-out FILE]`. The self-test builds
  * `Args` itself to run at the `tiny` scale.
  * Prints one line per metric, then the result as one JSON line. */
object Main {
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Set("pipeline", "lookup")(workload), s"unknown workload $workload")
    Args(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("trace-out", s"${need("work")}-trace.json"), scale = "full")
  }

  def session(a: Args): SparkSession = {
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(Paths.get(a.work))
    val spark = session(a)
    val result =
      try new Runner(spark, a).run()
      finally {
        spark.stop()
        deleteTree(Paths.get(a.work))
      }
    result.lines.foreach(println)
    println(result.json)
  }
}

final case class Result(lines: Seq[String], json: String)

/** Spark work of one traced request. */
final case class ReqTrace(jobs: Long, tasks: Long, shuffleMb: Double)

/** One measured request; `trace` is set when it ran traced. */
final case class Req(r: Request, trace: Option[ReqTrace])

/** Listener groups and dump-scan rows of one traced `Pipeline.run`. */
final case class StageSnapshot(groups: Map[String, GroupAgg], wall: Double, dumpScanRows: Long)

/** Drives one run: set-up (timed, repeated), the timed window, the checks
  * and, when traced, the per-layer figures. */
final class Runner(spark: SparkSession, a: Args) {
  private val w = new Workload(spark, a)
  private val notes = mutable.ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def now = System.nanoTime()
  private val started = now
  /** Progress on stderr, so a slow phase shows while the run is going. */
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${since(started)}%7.2f s  $what")
  private def since(t0: Long) = (now - t0) / 1e9
  private def bytesUnder(dir: String): Long = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }
  private def mb(bytes: Long) = bytes / 1e6

  def run(): Result = {
    a.workload match {
      case "lookup" => lookupRun()
      case _ => pipelineRun()
    }
    val metrics = if (a.trace) layer else e2e
    metrics.foreach { case (k, (v, _)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not finite")
    }
    if (a.trace) {
      Files.createDirectories(Paths.get(a.traceOut).toAbsolutePath.getParent)
      Files.write(Paths.get(a.traceOut), Spans.toJson.getBytes("UTF-8"))
      notes += s"spans written to ${a.traceOut}"
    }
    val lines = notes.toSeq ++ w.problems.map("FAILED CHECK: " + _) ++
      metrics.map { case (k, (v, u)) => f"metric $k%-36s $v%14.4f $u" }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${v.toString}, "unit": "$u"}""" }.mkString(", ")
    Result(lines, s"""{"correct": ${w.failed == 0 && w.attempted > 0}, "attempted": ${w.attempted}, """ +
      s""""failed": ${w.failed}, "metrics": {$body}}""")
  }

  // ------------------------------------------------------------ pipeline

  /** pipeline: `Pipeline.run` operations in the window (a batch job pays
    * its JVM's cold start on every run, so there is no warm-up), then one
    * lookup request against the index the last operation built: the first
    * answer after a build. `Pipeline.run` has just run the linker, so it
    * needs no warm-up request. */
  private def pipelineRun(): Unit = {
    val setups = (0 until Main.Setups).map { i =>
      val t0 = now
      w.writeInputs(s"${a.work}/in$i")
      since(t0)
    }
    progress("set-up done")
    val in = s"${a.work}/in${Main.Setups - 1}"
    val ops = mutable.ArrayBuffer.empty[(Op, Double, Double, Double)] // op, precision, recall, MB
    var stages: Option[StageSnapshot] = None
    val t0 = now
    while (since(t0) < a.seconds || ops.isEmpty) {
      // a traced run traces its operations (the stage figures are the
      // last one's) and measures its overhead on the requests
      w.recorder.reset(); w.scans.reset()
      val op = w.traced(on = true)(w.pipelineOp(in, s"${a.work}/op${ops.size}"))
      if (a.trace) stages = Some(snapshot(op))
      progress(f"operation ${ops.size} took ${op.wall}%.2f s")
      val (found, p, r) = w.checkPipeline(op, strict = true)
      progress("checked")
      w.checked(found)
      ops.lastOption.foreach(o => Main.deleteTree(Paths.get(o._1.dir)))
      ops += ((op, p, r, mb(bytesUnder(op.dir))))
    }
    val last = ops.last._1
    val idx = w.index(last)
    progress("index derived")
    // a traced run warms up too, so that its overhead pairs are both warm
    val reqs = requests(idx, warmup = a.trace, least = 1, byTime = false)
    progress("requests done")

    val walls = ops.map(_._1.wall).toSeq
    e2e("setup_s") = (Stats.median(setups), "s")
    e2e("pipeline_pages_per_s") = (Stats.median(walls.map(w.sizes.pages / _)), "pages/s")
    e2e("ingest_entities_per_s") = (Stats.median(walls.map(w.dumpRows / _)), "entities/s")
    e2e("link_precision") = (Stats.median(ops.map(_._2).toSeq), "ratio")
    e2e("link_recall") = (Stats.median(ops.map(_._3).toSeq), "ratio")
    lookupE2e(reqs, warmedUp = a.trace)
    e2e("cpu_s") = (Stats.median(ops.map(_._1.cpu).toSeq), "s")
    e2e("stored_mb") = (Stats.median(ops.map(_._4).toSeq), "MB")
    e2e("peak_rss_mb") = (Jvm.peakRssMb, "MB")
    notes += f"window: ${ops.size} operations of ${w.sizes.pages} pages and ${w.dumpRows} dump entities " +
      f"(${walls.map(x => f"$x%.2f").mkString(", ")} s)"

    if (a.trace) {
      val (links, probeLinks) =
        w.traced(true)(w.linksProbe(last.out.mentions, idx.tables, lookupMode = false))
      w.checked(Checks.linkerConfigDrift(
        Checks.digest(last.out.links.select("mention_norm", "qid")), probeLinks.get))
      perLayer(stages.get, links, reqs)
    }
  }

  // -------------------------------------------------------------- lookup

  /** lookup: set-up is the offline half, an index build (`Pipeline.run`
    * over the dump and a sparse page table, plus the derived linking
    * tables); the window is a closed loop of requests from one client. */
  private def lookupRun(): Unit = {
    val in = s"${a.work}/in"
    val t0 = now
    w.writeInputs(in)
    if (a.trace) { w.recorder.reset(); w.scans.reset() }
    val op = w.traced(true)(w.pipelineOp(in, s"$in/index"))
    val stages = if (a.trace) Some(snapshot(op)) else None
    val idx = w.index(op)
    val setup = since(t0)
    progress(f"set-up took $setup%.2f s (Pipeline.run ${op.wall}%.2f s)")
    val (found, p, r) = w.checkPipeline(op, strict = false)
    val (ingestFound, digests) = w.checkIngest(op)
    w.checked(found ++ ingestFound)
    notes += "table digests (rows/xor of row hashes): " +
      digests.toSeq.sortBy(_._1).map { case (t, (n, x)) => f"$t=$n/$x%016x" }.mkString(" ")
    progress("checked")
    val reqs = requests(idx, warmup = true, least = 1, byTime = true)
    progress("requests done")

    e2e("setup_s") = (setup, "s")
    e2e("pipeline_pages_per_s") = (w.sizes.pages / op.wall, "pages/s")
    e2e("ingest_entities_per_s") = (w.dumpRows / op.wall, "entities/s")
    e2e("link_precision") = (p, "ratio")
    e2e("link_recall") = (r, "ratio")
    lookupE2e(reqs, warmedUp = true)
    e2e("cpu_s") = (Stats.median(reqs.map(_.r.cpu)), "s")
    e2e("stored_mb") = (mb(bytesUnder(op.dir)), "MB")
    e2e("peak_rss_mb") = (Jvm.peakRssMb, "MB")

    if (a.trace) {
      import spark.implicits._
      val mentions = new w.MentionStream(a.seed).batch(w.sizes.batch).map(_.surface)
        .toDF("surface").select(graft.core.Text.cleanStr($"surface").as("mention_norm"))
      perLayer(stages.get, w.traced(true)(w.linksProbe(mentions, idx.tables, lookupMode = true))._1, reqs)
    }
  }

  // ------------------------------------------------------------ requests

  /** With `warmup`, one untimed request of a full batch first (the first
    * request in a JVM compiles the lookup path and runs slower). Then the measured
    * requests. Untraced: `least` requests, or with `byTime` requests
    * until the window closes and at least `least`. Traced: two plain/traced pairs in alternating order, so that
    * a warm-up trend falls on both sides of the overhead figure. */
  private def requests(idx: Index, warmup: Boolean, least: Int, byTime: Boolean): Seq[Req] = {
    val stream = new w.MentionStream(a.seed)
    if (warmup) {
      val warm = w.request(idx, stream.batch(w.sizes.batch))
      progress(f"warm-up request took ${warm.wall}%.2f s")
    }
    def one(traced: Boolean): Req = {
      if (traced) w.recorder.reset()
      val r = w.traced(traced)(w.request(idx, stream.batch(w.sizes.batch)))
      progress(f"request took ${r.wall}%.2f s, ${r.cpu}%.2f cpu-s${if (traced) " (traced)" else ""}")
      Req(r, if (traced) Some(ReqTrace(w.recorder.jobs, w.recorder.tasks, w.recorder.shuffleMb)) else None)
    }
    if (a.trace) Seq(false, true, true, false).map(one)
    else {
      val out = mutable.ArrayBuffer.empty[Req]
      val t0 = now
      while (out.size < least || (byTime && since(t0) < a.seconds)) out += one(traced = false)
      out.toSeq
    }
  }

  private def lookupE2e(reqs: Seq[Req], warmedUp: Boolean): Unit = {
    val ms = reqs.map(_.r.wall * 1e3)
    val (pct, tail) = Stats.tail(ms)
    e2e("lookup_p50_ms") = (Stats.median(ms), "ms")
    e2e("lookup_tail_ms") = (tail, "ms")
    e2e("lookup_hit_at_1") = (reqs.map(_.r.hits).sum.toDouble / reqs.map(_.r.golds).sum, "ratio")
    notes += f"lookup_tail_ms is p$pct of ${ms.size} requests of ${w.sizes.batch} mentions" +
      (if (warmedUp) ", after a warm-up request" else "")
  }

  /** Median over the plain/traced pairs of traced ÷ plain request time. */
  private def overheadPct(reqs: Seq[Req]): Double =
    (Stats.median(reqs.grouped(2).toSeq.map { pair =>
      val (traced, plain) = pair.partition(_.trace.isDefined)
      traced.head.r.wall / plain.head.r.wall
    }) - 1) * 100

  // ----------------------------------------------------------- per layer

  private def snapshot(op: Op) = StageSnapshot(w.recorder.snapshot, op.wall, w.scans.total)

  private val StageTags = Seq("objects", "literals", "closure", "items", "names", "postings",
    "postings3g", "postings_pair", "mentions", "links", "canon", "page_links", "triples")

  private def perLayer(st: StageSnapshot, links: Map[String, Double],
                       reqs: Seq[Req]): Unit = {
    val empty = new GroupAgg
    StageTags.foreach { s =>
      val g = st.groups.getOrElse(s"graft-stage:$s", empty)
      layer(s"stage.$s.task_s") = (g.taskS, "s")
      layer(s"stage.$s.wall_s") = (g.wallS, "s")
      layer(s"stage.$s.shuffle_mb") = (mb(g.shuffleBytes), "MB")
      layer(s"stage.$s.spill_mb") = (mb(g.spillBytes), "MB")
      layer(s"stage.$s.skew") = (g.skew, "ratio")
    }
    val commits = st.groups.filter(_._1.startsWith("graft-commit:")).values
    layer("commit.task_s") = (commits.map(_.taskS).sum, "s")
    layer("commit.mb") = (mb(commits.map(_.outputBytes).sum), "MB")
    layer("pipeline.core_util") = (st.groups.values.map(_.taskS).sum / (st.wall * w.cores), "ratio")
    layer("parse.dump_reads") = (st.dumpScanRows.toDouble / w.dumpRows, "ratio")
    links.foreach { case (k, v) =>
      layer(k) = (v, if (k.endsWith("wall_s")) "s" else if (k.endsWith("per_link")) "ratio" else "count")
    }
    val traced = reqs.filter(_.trace.isDefined)
    val rt = traced.flatMap(_.trace)
    layer("lookup.linker.wall_s") = (Stats.median(Spans.named("lookup.linker").map(_.seconds)), "s")
    layer("lookup.retrieval.wall_s") = (Stats.median(Spans.named("lookup.retrieval").map(_.seconds)), "s")
    layer("lookup.jobs_per_request") = (Stats.median(rt.map(_.jobs.toDouble)), "count")
    layer("lookup.tasks_per_request") = (Stats.median(rt.map(_.tasks.toDouble)), "count")
    layer("lookup.shuffle_mb_per_request") = (Stats.median(rt.map(_.shuffleMb)), "MB")
    layer("lookup.candidates_per_mention") =
      (traced.map(_.r.rows).sum.toDouble / traced.map(_.r.mentions).sum, "ratio")
    layer("jvm.gc_s") = (Jvm.gcSeconds, "s")
    layer("jvm.jit_s") = (Jvm.jitSeconds, "s")
    layer("spark.jobs") = (w.recorder.runJobs.toDouble, "count")
    layer("other.task_s") = (w.recorder.runUntaggedTaskS, "s")
    layer("trace.overhead_pct") = (overheadPct(reqs), "%")
  }
}
