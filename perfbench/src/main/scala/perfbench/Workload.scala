package perfbench

import graft.kg._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Input sizes of one workload. Both workloads feed `Pipeline.run` some
  * pages, so link quality is defined on each. `batch` is the mentions per
  * lookup request. */
final case class Sizes(pages: Int, entities: Int, batch: Int)

object Sizes {
  def of(workload: String, scale: String): Sizes = (workload, scale) match {
    // document -> triples: 6 pages per entity, as in the reference probe
    // (24k pages, 4k entities), at a quarter of its size to fit the run
    // budget
    case ("pipeline", "full") => Sizes(6000, 1000, 256)
    // the index build: one page per 32 entities, the ratio of the
    // reference probe of linking cost (2k pages, 64k entities); 256-mention
    // batches, as in the reference lookup probe
    case ("lookup", "full") => Sizes(2400 / 32, 2400, 256)
    case ("pipeline", "tiny") => Sizes(400, 600, 8)
    case ("lookup", "tiny") => Sizes(10, 600, 8)
    case other => sys.error(s"unknown workload/scale $other")
  }
}

/** The linker settings `Pipeline.run` uses by default, and lamAPI's
  * reference-parity lookup settings (popularity cut, ambiguity features).
  * A traced `pipeline` run checks that `Configs.pipeline` still
  * reproduces the `links` stage, so a change of the library default fails
  * the run. */
object Configs {
  val pipeline: LinkerConfig = LinkerConfig(limit = 32, fuzzy = true,
    cutByRelevance = true, computeAmbiguity = false, minShouldMatch = true)
  val pipelineMinScore = 1.2
  val lookup: LinkerConfig = LinkerConfig(fuzzy = true)
}

final case class Mention(surface: String, norm: String, qid: Option[String])

/** A built index plus the tables retrieval reads. */
final case class Index(tables: NameIndexTables, items: DataFrame, objects: DataFrame,
                       literals: DataFrame, canon: Map[String, String])

final case class Op(wall: Double, cpu: Double, out: Pipeline.StageOutputs, dir: String)

final case class Request(wall: Double, cpu: Double, rows: Int, mentions: Int,
                         golds: Int, hits: Int)

/** One benchmark run of one workload: set-up, a timed window, checks and
  * the metrics. All Spark work goes through the library's public API. */
final class Workload(spark: SparkSession, args: Args) {
  import spark.implicits._

  val sizes: Sizes = Sizes.of(args.workload, args.scale)
  val cores: Int = spark.sparkContext.defaultParallelism
  val dumpRows: Long = Fixtures.entityDefs(sizes.entities, args.seed).size.toLong
  val recorder = new Recorder
  val scans = new ScanCounter("/dump")
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  private def tag(phase: String): Unit =
    spark.sparkContext.setJobDescription(s"perfbench:$phase")

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` with the listener, scan counter and spans on (when the
    * run is traced and `on`), off otherwise. */
  def traced[A](on: Boolean)(body: => A): A =
    if (!(args.trace && on)) body
    else {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(scans)
      Spans.enabled = true
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Spans.enabled = false
        spark.listenerManager.unregister(scans)
        spark.sparkContext.removeSparkListener(recorder)
      }
    }

  /** Records one checked operation. */
  def checked(found: Seq[String]): Unit = {
    attempted += 1
    if (found.nonEmpty) { failed += 1; problems ++= found }
  }

  // ------------------------------------------------------------ inputs

  def writeInputs(dir: String): Unit = {
    tag("setup")
    Fixtures.pages(spark, sizes.pages, sizes.entities, args.seed).write.parquet(s"$dir/pages")
    Fixtures.dumpLines(spark, sizes.entities, args.seed).write.parquet(s"$dir/dump")
  }

  lazy val gold: DataFrame = {
    tag("gold")
    val g = Fixtures.gold(spark, sizes.pages, sizes.entities, args.seed).cache()
    g.count()
    g
  }

  // --------------------------------------------------------- operations

  /** One pipeline operation: `Pipeline.run` through the triples count. */
  def pipelineOp(in: String, dir: String): Op = {
    val c0 = Jvm.cpuSeconds
    val t0 = System.nanoTime()
    val out = Spans("pipeline.run") {
      val o = Pipeline.run(spark, spark.read.parquet(s"$in/pages"),
        spark.read.parquet(s"$in/dump"), dir)
      o.triples.count()
      o
    }
    Op(seconds(t0), Jvm.cpuSeconds - c0, out, dir)
  }

  private def stageOutputs(op: Op): Map[String, DataFrame] = {
    val o = op.out
    Map("items" -> o.items, "objects" -> o.objects, "literals" -> o.literals,
      "closure" -> o.closure, "names" -> o.names, "postings" -> o.postings,
      "postings3g" -> o.postings3g, "mentions" -> o.mentions, "links" -> o.links,
      "canon" -> o.canon, "page_links" -> o.pageLinks, "triples" -> o.triples,
      "postings_pair" -> spark.read.parquet(s"${op.dir}/postings_pair"))
  }

  /** Lineage rows against stage outputs, then link precision and recall
    * (and, when `strict`, the triple precision/recall floors). */
  def checkPipeline(op: Op, strict: Boolean): (Seq[String], Double, Double) = Spans("check") {
    tag("check")
    val lineage = spark.read.parquet(s"${op.dir}/_lineage")
      .groupBy("stage").agg(sum("output_rows")).as[(String, Long)].collect().toMap
    val outputRows = stageOutputs(op).toSeq
      .map { case (s, df) => df.agg(count(lit(1)).as("n")).select(lit(s).as("stage"), col("n")) }
      .reduce(_ unionByName _).as[(String, Long)].collect().toMap
    val found = mutable.ArrayBuffer.empty[String]
    found ++= Checks.lineageMismatches(lineage, outputRows)
    val goldCanon = Triples.canonicalize(gold, op.out.canon, "qid").select("url", "qid")
    val (p, r) = Checks.precisionRecall(op.out.pageLinks, goldCanon, Seq("url", "qid"))
    if (strict) {
      val canonObjects = Triples.canonicalize(
        Triples.canonicalize(op.out.objects, op.out.canon, "subj"), op.out.canon, "obj")
      val goldTriples = Triples.extract(goldCanon.distinct(), canonObjects)
      val (tp, tr) = Checks.precisionRecall(op.out.triples, goldTriples,
        Seq("subj", "pred", "obj", "source_url"))
      found ++= Checks.floor("link precision", p, 0.95) ++
        Checks.floor("link recall", r, 0.95) ++
        Checks.floor("triple precision", tp, 0.95) ++
        Checks.floor("triple recall", tr, 0.95)
    }
    (found.toSeq, p, r)
  }

  val digestTables = Seq("items", "objects", "literals", "closure", "names",
    "postings", "postings3g", "postings_pair")

  /** Ingest check: one items row per dump entity. Returns per-table
    * digests as well, printed so that two commits can be compared. */
  def checkIngest(op: Op): (Seq[String], Map[String, (Long, Long)]) = Spans("check") {
    tag("check")
    val outs = stageOutputs(op)
    val digests = digestTables.map(t => t -> Checks.digest(outs(t))).toMap
    val items = digests("items")._1
    (if (items == dumpRows) Nil else Seq(s"items has $items rows, dump has $dumpRows entities"),
      digests)
  }

  /** The lookup index over a finished run, with every table `Pipeline.run`
    * precomputes for linking. */
  def index(op: Op): Index = Spans("index") {
    tag("index")
    val o = op.out
    val pairs = spark.read.parquet(s"${op.dir}/postings_pair")
    val tokenStats = NameIndex.tokenStats(o.postings).localCheckpoint(eager = true)
    val pairStats = NameIndex.pairStats(pairs).localCheckpoint(eager = true)
    val nameRows = o.names.count()
    val idfMaps = NameIndex.idfMaps(o.names, tokenStats, nameRows).localCheckpoint(eager = true)
    val hot = tokenStats.filter(col("df") >= Configs.lookup.hotTokenDf)
      .select("token").as[String].collect().toSet
    val typeNames = o.items.filter(col("kind") === "type")
      .select(col("entity"), col("labels")("en").as("name"))
      .filter(col("name").isNotNull)
    val tables = NameIndexTables(o.names, o.postings, o.postings3g, Some(pairs),
      Some(typeNames), Some(NameIndex.maxPopularity(o.items)),
      tokenStats = Some(tokenStats), pairStats = Some(pairStats),
      idfMaps = Some(idfMaps), nameRowCount = Some(nameRows), hotTokens = Some(hot))
    Index(tables, o.items, o.objects, o.literals,
      o.canon.as[(String, String)].collect().toMap)
  }

  // ------------------------------------------------------------ lookups

  /** Gold surfaces (label, alias, abbreviation, misspelling) of the seed's
    * pages, plus 64 decoys that name no entity, each with its normalized
    * form. */
  lazy val mentionPool: (IndexedSeq[Mention], IndexedSeq[Mention]) = {
    tag("mentions")
    val rng = new scala.util.Random(args.seed * 7919L + 17)
    val decoys = (0 until 64).map(i => ("Zq" + "aeiou" (rng.nextInt(5)) + "x" + (1000 + i), null: String))
      .toDF("surface", "qid")
    val all = gold.select("surface", "qid").distinct().unionByName(decoys)
      .select(col("surface"), graft.core.Text.cleanStr(col("surface")).as("norm"), col("qid"))
      .orderBy("surface", "qid").as[(String, String, String)].collect()
      .map { case (s, n, q) => Mention(s, n, Option(q)) }
    val (g, d) = all.partition(_.qid.isDefined)
    (rng.shuffle(g.toIndexedSeq), d.toIndexedSeq)
  }

  /** Seeded draws with skewed repetition: Zipf(1) over the gold pool,
    * one draw in ten a decoy. */
  final class MentionStream(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val (pool, decoys) = mentionPool
    private val cdf = {
      val w = pool.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def next(): Mention =
      if (rng.nextInt(10) == 0) decoys(rng.nextInt(decoys.size))
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        pool(math.min(pool.size - 1, if (i >= 0) i else -i - 1))
      }
    def batch(n: Int): Seq[Mention] = Seq.fill(n)(next())
  }

  /** One closed-loop request: a mention batch through `Linker.lookup`,
    * then types, objects and literals of the returned ids. */
  def request(idx: Index, batch: Seq[Mention]): Request = Spans("lookup.request") {
    tag("lookup")
    val c0 = Jvm.cpuSeconds
    val t0 = System.nanoTime()
    val mentions = batch.map(_.surface).toDF("surface")
      .select(graft.core.Text.cleanStr(col("surface")).as("mention_norm"))
    val rows = Spans("lookup.linker") {
      Linker.lookup(spark, mentions, idx.tables, Configs.lookup).collect()
    }
    val ids = rows.map(_.getAs[String]("id")).distinct.toSeq.toDF("entity")
    Spans("lookup.retrieval") {
      Retrieval.getTypes(idx.items, ids).collect()
      Retrieval.getObjects(idx.objects, ids).collect()
      Retrieval.getLiterals(idx.literals, ids).collect()
    }
    val wall = seconds(t0)
    val cpu = Jvm.cpuSeconds - c0
    val byMention = rows.groupBy(_.getAs[String]("mention_norm"))
    checked(Checks.overLimit(byMention.map { case (m, rs) => m -> rs.length }, Configs.lookup.limit))
    val top = byMention.map { case (m, rs) => m -> topCandidate(rs.toSeq) }
    val canon = (q: String) => idx.canon.getOrElse(q, q)
    // distinct, so that the hit rate weighs each gold mention once, not by
    // how often the skewed draw repeated it
    val golds = batch.filter(_.qid.isDefined).distinct
    val hits = golds.count(m => top.get(m.norm).exists(id => canon(id) == canon(m.qid.get)))
    Request(wall, cpu, rows.length, batch.map(_.norm).distinct.size, golds.size, hits)
  }

  /** The candidate a caller keeps: highest linking composite (the one
    * `Linker.linkTop1` ranks by), then popularity, then id. */
  def topCandidate(rows: Seq[Row]): String =
    rows.minBy { r =>
      val composite = r.getAs[Double]("ed_score") + r.getAs[Double]("jaccard_score") +
        r.getAs[Double]("jaccardNgram_score") + 0.5 * r.getAs[Double]("es_score")
      (-composite, -r.getAs[Double]("popularity"), r.getAs[String]("id"))
    }.getAs[String]("id")

  // ----------------------------------------------------------- links probe

  /** Linking sub-stages on `mentions`, timed one by one. Also returns the
    * digest of the scored links on the `pipeline` side, which must equal
    * the `links` stage's. */
  def linksProbe(mentions: DataFrame, idx: NameIndexTables,
                 lookupMode: Boolean): (Map[String, Double], Option[(Long, Long)]) =
    Spans("links") {
      tag("links")
      val cfg = if (lookupMode) Configs.lookup else Configs.pipeline
      val nRows = idx.nameRowCount.get
      val tokenStats = idx.tokenStats.get
      // LinkerConfig.commonTokenDf = 0 means "auto"; same rule as the linker
      val commonDf = if (cfg.commonTokenDf > 0) cfg.commonTokenDf
                     else math.max(64L, (nRows * 0.005).toLong)
      val md = Linker.distinctMentions(mentions).localCheckpoint(eager = true)
      def timed[A](name: String)(f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val r = Spans(name)(f)
        (r, seconds(t0))
      }
      val ((exact, exactPairs), exactS) = timed("links.exact") {
        val e = Linker.exactTokenMatches(spark, md, idx.postings, tokenStats, commonDf,
          cfg, idx.hotTokens).localCheckpoint(eager = true)
        (e, e.count())
      }
      val (expansions, fuzzyS) = timed("links.fuzzy") {
        Linker.fuzzyExpansions(md, idx.postings3g, tokenStats, cfg).count()
      }
      val idf = tokenStats.select(col("token"),
        log(lit(1.0) + lit(nRows.toDouble) / col("df")).as("idf"))
      val candidates = Linker.candidateRows(exact, idx.names, idf).count()
      val ((linksOut, linkDigest), scoreS) = timed("links.score") {
        if (lookupMode) (Linker.lookup(spark, mentions, idx, cfg).count(), None)
        else {
          val d = Checks.digest(Linker.linkTop1(spark, mentions, idx, cfg, Configs.pipelineMinScore)
            .select("mention_norm", "qid"))
          (d._1, Some(d))
        }
      }
      (Map("links.exact_pairs" -> exactPairs.toDouble,
        "links.fuzzy_expansions" -> expansions.toDouble,
        "links.candidates" -> candidates.toDouble,
        "links.links_out" -> linksOut.toDouble,
        "links.candidates_per_link" -> (if (linksOut == 0) 0.0 else candidates.toDouble / linksOut),
        "links.exact.wall_s" -> exactS, "links.fuzzy.wall_s" -> fuzzyS,
        "links.score.wall_s" -> scoreS), linkDigest)
    }
}
