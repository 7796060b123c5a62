package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Benchmark self-test: a tiny run of each workload prints every metric
  * BENCHMARK.json names, with its unit, and the output checks catch a
  * single dropped row. Run with `sbt test` in perfbench/. */
class SelfTest extends AnyFunSuite {
  private lazy val spark: SparkSession =
    Main.session(args("pipeline", trace = false).copy(work = s"$work/session"))
  private val work = Paths.get("target", "selftest").toAbsolutePath.toString

  private def args(workload: String, trace: Boolean) =
    Args(workload, seed = 7, seconds = 1, trace = trace, work = s"$work/$workload-$trace",
      traceOut = s"$work/$workload-trace.json", scale = "tiny")

  /** (name, unit) of the end-to-end or per-layer metrics in BENCHMARK.json. */
  private def declared(section: String): Seq[(String, String)] = {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val block = json.substring(json.indexOf(s""""$section""""))
    val body = block.substring(block.indexOf('['), block.indexOf(']') + 1)
    def field(obj: String, key: String) =
      s""""$key"\\s*:\\s*"([^"]+)"""".r.findFirstMatchIn(obj).get.group(1)
    """\{[^{}]*\}""".r.findAllIn(body).map(o => (field(o, "name"), field(o, "unit"))).toSeq
  }

  for (workload <- Seq("pipeline", "lookup"); trace <- Seq(false, true)) {
    test(s"tiny $workload run, trace=$trace, prints every declared metric with its unit") {
      Main.deleteTree(Paths.get(args(workload, trace).work))
      val result = new Runner(spark, args(workload, trace)).run()
      val expected = declared(if (trace) "per_layer" else "end_to_end")
      assert(expected.nonEmpty)
      assert(result.json.startsWith("""{"correct": true, "attempted": """), result.lines.mkString("\n"))
      expected.foreach { case (name, unit) =>
        val printed = (java.util.regex.Pattern.quote(s""""$name": {"value": """) +
          """[-0-9.E]+, "unit": "([^"]+)"""").r.findFirstMatchIn(result.json)
        assert(printed.map(_.group(1)).contains(unit), s"$name missing or its unit is not $unit")
        assert(result.lines.exists(_.startsWith(s"metric $name ")), s"$name not printed")
      }
      Main.deleteTree(Paths.get(args(workload, trace).work))
    }
  }

  test("the checks flag an output with one dropped row") {
    val a = args("pipeline", trace = false).copy(work = s"$work/checks")
    Main.deleteTree(Paths.get(a.work))
    val w = new Workload(spark, a)
    w.writeInputs(s"${a.work}/in")
    val op = w.pipelineOp(s"${a.work}/in", s"${a.work}/op")
    val (found, _, _) = w.checkPipeline(op, strict = true)
    assert(found.isEmpty, found.mkString("; "))

    val lineage = spark.read.parquet(s"${op.dir}/_lineage").groupBy("stage")
      .agg(sum("output_rows")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val triples = op.out.triples.count()
    assert(Checks.lineageMismatches(lineage, Map("triples" -> triples)).isEmpty)
    assert(Checks.lineageMismatches(lineage, Map("triples" -> (triples - 1))).nonEmpty)

    val items = op.out.items
    assert(Checks.digest(items) == Checks.digest(items.repartition(3)))
    assert(Checks.digest(items) != Checks.digest(items.limit(items.count().toInt - 1)))

    assert(Checks.overLimit(Map("alden" -> 3), limit = 3).isEmpty)
    assert(Checks.overLimit(Map("alden" -> 4), limit = 3).nonEmpty)

    val links = Checks.digest(op.out.links.select("mention_norm", "qid"))
    assert(Checks.linkerConfigDrift(links, links).isEmpty)
    assert(Checks.linkerConfigDrift(links, Checks.digest(op.out.links.select("mention_norm", "qid")
      .limit(links._1.toInt - 1))).nonEmpty)
    Main.deleteTree(Paths.get(a.work))
  }

  test("tail: the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == (75, 30.0))
    assert(Stats.tail(xs.take(5)) == (100, 5.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the time covered by child spans") {
    val parent = Spans.Span(1, "p", 0, 0L, 10000000000L)
    val kids = Seq(Spans.Span(2, "a", 1, 1000000000L, 4000000000L),
      Spans.Span(3, "b", 1, 3000000000L, 5000000000L), Spans.Span(4, "c", 1, 8000000000L, 9000000000L))
    assert(math.abs(Spans.selfSeconds(parent, parent +: kids) - 5.0) < 1e-9)
  }
}
