package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import java.nio.file.Files

/** End-to-end pipeline: pages + dump → triples, with the P/R harness
  * (north rule: entity-link P/R ≥ 0.95 vs the golden links derived by
  * construction) and checkpoint/resume semantics. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val NEntities = 600
  private val NPages = 400

  private lazy val work = Files.createTempDirectory("graft-pipe").toString
  private lazy val pages = Fixtures.pages(spark, NPages, NEntities).cache()
  private lazy val dump = Fixtures.dumpLines(spark, NEntities)
  private lazy val out = Pipeline.run(spark, pages, dump, work)

  private lazy val goldCanon: org.apache.spark.sql.DataFrame = {
    val gold = Fixtures.gold(spark, NPages, NEntities)
    Triples.canonicalize(gold, out.canon, "qid")
      .select(col("url"), col("qid")).distinct().cache()
  }

  test("pipeline runs end-to-end and emits triples") {
    assert(out.triples.count() > 0)
    val cols = out.triples.columns.toSet
    assert(Set("subj", "pred", "obj", "source_url").subsetOf(cols))
  }

  test("entity-link P/R >= 0.95 vs golden links (canonicalized)") {
    val pred = out.pageLinks.select(col("url"), col("qid")).distinct().cache()
    val tp = pred.join(goldCanon, Seq("url", "qid")).count().toDouble
    val p = tp / pred.count()
    val r = tp / goldCanon.count()
    info(f"link precision=$p%.4f recall=$r%.4f (tp=$tp%.0f pred=${pred.count()} gold=${goldCanon.count()})")
    assert(p >= 0.95, f"precision $p%.4f < 0.95")
    assert(r >= 0.95, f"recall $r%.4f < 0.95")
  }

  test("triple P/R >= 0.95 vs golden triples (derived by construction)") {
    // golden triples: KG edges between canonicalized gold entities co-linked
    // on a page — same definition as Triples.extract, applied to gold links
    val canonObjects = Triples.canonicalize(
      Triples.canonicalize(out.objects, out.canon, "subj"), out.canon, "obj")
    val goldTriples = Triples.extract(goldCanon, canonObjects).cache()
    val predTriples = out.triples.cache()
    val tp = predTriples.join(goldTriples,
      Seq("subj", "pred", "obj", "source_url")).count().toDouble
    val p = if (predTriples.count() == 0) 0.0 else tp / predTriples.count()
    val r = if (goldTriples.count() == 0) 1.0 else tp / goldTriples.count()
    info(f"triple precision=$p%.4f recall=$r%.4f (gold=${goldTriples.count()})")
    assert(goldTriples.count() > 0, "fixture produced no gold triples — corpus too sparse")
    assert(p >= 0.95, f"triple precision $p%.4f < 0.95")
    assert(r >= 0.95, f"triple recall $r%.4f < 0.95")
  }

  test("canonicalization: duplicate persons collapse to min QID") {
    val canon = out.canon.as[(String, String)].collect().toMap
    // planted duplicates: block%40==3 → Q{100000+block*20+1} sameas Q{100000+block*20}
    val blocks = (0 until NEntities / 20).filter(_ % 40 == 3)
    assert(blocks.nonEmpty)
    blocks.foreach { b =>
      val dup = s"Q${100000 + b * 20 + 1}"
      val orig = s"Q${100000 + b * 20}"
      assert(canon.get(dup).contains(orig), s"$dup should canonicalize to $orig")
      assert(canon.get(orig).contains(orig))
    }
  }

  test("lineage rows: one per partition per stage, counts match outputs") {
    val lineage = spark.read.parquet(s"$work/_lineage").cache()
    val stages = lineage.select("stage").distinct().as[String].collect().toSet
    assert(Set("objects", "items", "names", "mentions", "links", "triples")
      .subsetOf(stages))
    val triplesRows = lineage.filter(col("stage") === "triples")
      .agg(sum("output_rows")).first().getLong(0)
    assert(triplesRows == out.triples.count())
    assert(lineage.columns.toSet ==
      Set("stage", "part_id", "output_rows", "checksum", "wall_ms"))
  }

  test("memoDir: a second pipeline run reuses memoized links and matches") {
    val before = out.links.select("mention_norm", "qid")
      .as[(String, String)].collect().toMap // forces the base run
    val memo = Files.createTempDirectory("graft-memo").toString + "/memo"
    val w2 = Files.createTempDirectory("graft-pipe-m1").toString
    val run1 = Pipeline.run(spark, pages, dump, w2, memoDir = Some(memo))
    assert(run1.links.select("mention_norm", "qid")
      .as[(String, String)].collect().toMap == before,
      "memoized pipeline must produce the same links as the base run")
    // batched layout: each run appends its own batch-<uuid> subdirectory
    def memoCount() = spark.read.option("recursiveFileLookup", "true")
      .parquet(memo).count()
    val memoRows = memoCount()
    assert(memoRows > 0)
    // second run over the same corpus: EVERY distinct mention is memoized,
    // so the fresh-computation side must be empty — no new memo rows
    val w3 = Files.createTempDirectory("graft-pipe-m2").toString
    val run2 = Pipeline.run(spark, pages, dump, w3, memoDir = Some(memo))
    assert(run2.links.select("mention_norm", "qid")
      .as[(String, String)].collect().toMap == before)
    assert(memoCount() == memoRows,
      "second run should memo-hit every mention and append nothing")
  }

  /** The dump with every `line` read counted: a non-deterministic UDF, so
    * the optimizer neither duplicates it into a pushed-down filter nor
    * merges two reads of it. */
  private def countedDump(): (DataFrame, LongAccumulator) = {
    val reads = spark.sparkContext.longAccumulator("dump-line-reads")
    val readLine = udf { (line: String) => reads.add(1); line }.asNondeterministic()
    (dump.select(readLine(col("line")).as("line")), reads)
  }

  test("decode once: a run reads each dump line at most once") {
    val (counted, reads) = countedDump()
    val w = Files.createTempDirectory("graft-pipe-decode").toString
    Pipeline.run(spark, pages, counted, w)
    val rows = dump.count()
    info(s"dump lines read: ${reads.value} for $rows rows")
    assert(reads.value > 0 && reads.value <= rows,
      s"${reads.value} line reads for $rows dump rows")
  }

  test("resume with every ingest stage committed decodes nothing") {
    out.items.count() // forces the first full run
    val (counted, reads) = countedDump()
    Pipeline.run(spark, pages, counted, work).triples.count()
    assert(reads.value == 0, s"${reads.value} dump lines read on a committed resume")
  }

  test("resume: a second run recomputes nothing and returns identical triples") {
    val before = out.triples.count() // forces the first full run
    val lineageCount = spark.read.parquet(s"$work/_lineage").count()
    // poison-pill inputs: if any stage recomputed, it would differ/explode
    val out2 = Pipeline.run(spark,
      pages.limit(0), dump.limit(0), work)
    assert(out2.triples.count() == before)
    // no new lineage rows appended → nothing recomputed
    assert(spark.read.parquet(s"$work/_lineage").count() == lineageCount)
  }
}
