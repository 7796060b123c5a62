package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-logic tests for the bench harness: the artifact line must be
  * valid JSON, complete at every emission point, and short enough to
  * survive the driver's 2000-char tail window; the start rule must shed
  * what does not fit. The fork/kill behaviour is exercised end-to-end by
  * the dress and SIGTERM runs recorded in BASELINE.md, not by unit tests. */
class BenchHarnessSpec extends AnyFunSuite {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parse(line: String) = om.readTree(line)

  // worst-case-ish gate map: 45 real query names, contended 3-digit values
  private val gateNames = Seq(
    "q_agg_pricing", "q_ann_ivf", "q_ann_lsh", "q_ann_topk", "q_anti_join",
    "q_cb_parse", "q_clean_str", "q_closure", "q_column_analysis",
    "q_components", "q_dedup_exact", "q_dedup_jaccard", "q_detect_mentions",
    "q_distinct_flags", "q_dot_abbreviations", "q_edit_distance",
    "q_embed_lsh", "q_embed_pairs", "q_except_nations", "q_extract_text",
    "q_fingerprint", "q_join_agg", "q_lang_id", "q_literal_classify",
    "q_lookup_candidates", "q_lookup_fuzzy", "q_lookup_ids",
    "q_media_features", "q_mention_ner", "q_minhash_pairs",
    "q_name_index_features", "q_ngram_jaccard", "q_parse_literals",
    "q_parse_objects", "q_pos_score", "q_quality", "q_semi_join",
    "q_simhash_pairs", "q_summary_topk", "q_token_count", "q_token_jaccard",
    "q_topk_acctbal", "q_union_nations", "q_window_running", "q_winnow")
  private val gates = gateNames.map(n => n -> 110.354)

  private def leg(cores: Int, sec: Double, nRuns: Int, tps: Double) =
    Bench.LegStat(cores, sec, tps, sec * 0.9, 30.5, 253.1,
      Vector.fill(nRuns)(sec * 1.37))

  test("full-state line: valid JSON, under the tail budget, all evidence present") {
    // every shed tag the schedule can emit, at once (worst-case length)
    val shed = Seq("point_pages24k", "gates_pass1", "gates_pass2",
      "gates_partial", "round2_pages24k", "round3_pages24k",
      "round4_pages24k") ++ Seq("leg", "killed", "timeout", "infra")
      .flatMap(k => Seq(1, 4).map(c => s"${k}_pages24k_c$c"))
    val legs = Seq(leg(1, 879.9, 4, 284.1), leg(4, 222.8, 4, 996.2))
    val line = Bench.buildLine(gates, "testdata/sf0.1", legs,
      Some((5.81, 18.84)), 2, 1619.7, Bench.DeadlineSec, shed)
    assert(!line.contains("\n"))
    assert(line.length <= Bench.MaxLineChars,
      s"line is ${line.length} chars:\n$line")
    val j = parse(line)
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    assert(j.get("sf").asText == "testdata/sf0.1")
    assert(math.abs(j.get("value").asDouble - 110.354 * 45) < 1.0)
    assert(j.get("queries").size == 45)
    val p = j.get("pipeline")
    assert(p.get("pages").asInt == 24000)
    assert(p.get("entities").asInt == 4000)
    assert(p.get("local1").get("sec").asDouble == 879.9)
    for (l <- Seq("local1", "local4")) {
      assert(p.get(l).get("runs_sec").size == 4)
      for (k <- Seq("triples_per_sec", "task_sec", "gc_sec", "jit_sec"))
        assert(p.get(l).has(k), s"$l missing $k")
    }
    val eff = (996.2 / 284.1) / 4
    assert(math.abs(p.get("scaling_efficiency").asDouble - eff) < 0.001)
    assert(p.get("scaling_source").asText == "pages24k")
    assert(p.get("points").size == 1)
    assert(math.abs(p.get("points").get("pages24k").get("eff").asDouble - eff) < 0.001)
    assert(math.abs(p.get("mem_probe").get("scaling").asDouble -
      18.84 / 5.81 / 4) < 0.001)
    assert(p.get("gate_passes").asInt == 2)
    assert(p.get("elapsed_sec").asInt == 1619)
    assert(p.get("deadline_sec").asInt == 1680)
    assert(p.get("shed").size == shed.size)
  }

  test("empty state (killed before any work) still emits a complete line") {
    val j = parse(Bench.buildLine(Nil, "/root/testdata/sf0.1", Nil,
      None, 0, 3.2, Bench.DeadlineSec, Nil))
    assert(j.get("value").asDouble == 0.0)
    assert(j.get("queries").size == 0)
    assert(j.get("pipeline").get("gate_passes").asInt == 0)
    assert(j.get("pipeline").get("points").size == 0)
    assert(!j.get("pipeline").has("scaling_efficiency"))
  }

  test("single-leg point (mid-round kill) emits without an efficiency") {
    val legs = Seq(leg(1, 79.9, 1, 284.1))
    val p = parse(Bench.buildLine(gates, "sf", legs, None, 0,
      100, Bench.DeadlineSec, Seq("killed_pages24k_c4"))).get("pipeline")
    assert(p.get("local1").get("sec").asDouble == 79.9)
    assert(!p.has("local4"))
    assert(!p.has("scaling_efficiency"))
    assert(Bench.eff(legs).isEmpty)
  }

  test("start rule: first starts, a unit that doesn't fit is shed, none in the tail") {
    // first of its kind: no measured wall, starts anywhere before the tail
    assert(Bench.mayStart(None, 1620.0))
    assert(Bench.mayStart(None, 0.5))
    // a measured kind starts only if its last wall fits before the tail
    assert(Bench.mayStart(Some(250.0), 300.0))
    assert(Bench.mayStart(Some(300.0), 300.0))
    assert(!Bench.mayStart(Some(250.1), 250.0))
    // inside the tail nothing starts, not even a first unit or a 1 s one
    for (w <- Seq(None, Some(1.0), Some(0.0)); left <- Seq(0.0, -1.0, -59.0))
      assert(!Bench.mayStart(w, left), s"started at $left s with last wall $w")
  }

  test("symmetric truncation: a leg's extra sample stays out of the ratio") {
    def run(sec: Double) = Bench.Run(10000L, sec, sec * 0.9, 1.0, 2.0)
    // interrupted round 2: local1 got a second (better) sample, local4
    // didn't — the min must use only round 1 of each leg, while runs_sec
    // discloses both samples
    val m = Map(1 -> Vector(run(100.0), run(80.0)), 4 -> Vector(run(30.0)))
    val legs = Bench.legStatsFor(m, Seq(1, 4))
    assert(legs.map(_.cores) == Seq(1, 4))
    assert(legs.head.sec == 100.0, "leg1 min must truncate to round 1")
    assert(legs.head.runsSec == Seq(100.0, 80.0), "all samples disclosed")
    assert(legs.last.sec == 30.0)
    // complete rounds: min over all of them
    val m2 = Map(1 -> Vector(run(100.0), run(80.0)),
      4 -> Vector(run(30.0), run(25.0)))
    assert(Bench.legStatsFor(m2, Seq(1, 4)).head.sec == 80.0)
    // single leg: no truncation partner, min over own samples
    val m3 = Map(1 -> Vector(run(100.0), run(80.0)))
    assert(Bench.legStatsFor(m3, Seq(1, 4)).head.sec == 80.0)
  }

  test("memory probe returns sane bandwidth figures") {
    val (s1, s4) = Bench.memProbe()
    assert(s1 > 0.2, s"single-thread $s1 GB/s implausibly low")
    assert(s4 > s1 * 0.8, s"4-thread aggregate $s4 below single $s1")
    // The probe measures the environment, so a co-tenant hammering the
    // box during the single-thread window legitimately pushes s4/s1 past
    // 4. The ceiling leaves 2x headroom over the worst co-tenant regime on
    // record (dress 10: scaling 3.79, s4/s1 ~ 15.2; a quiet probe reads
    // ~3.8, e.g. 19.42 / 5.10), while a probe bug that inflated the
    // 4-thread aggregate 10x (~38) fails.
    assert(s4 / s1 <= 32, s"s4/s1 = ${s4 / s1} (single $s1, x4 $s4 GB/s)")
  }

  test("memory probe: a worker that cannot allocate fails the probe, not hangs") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val interrupt: Signaler = ThreadSignaler // a hung probe waits interruptibly
    // an array this size exceeds the VM limit: every allocation throws
    // OutOfMemoryError at once, without touching the heap
    val e = TimeLimits.failAfter(30.seconds) {
      intercept[Exception](Bench.memProbe(size = Int.MaxValue))
    }
    assert(e.getCause.isInstanceOf[OutOfMemoryError], e)
    assert(e.getMessage.contains("OutOfMemoryError"), e.getMessage)
  }
}
