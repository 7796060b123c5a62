package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** The end-to-end KG-construction pipeline (SURVEY.md §7.1) with
  * per-stage committed outputs, per-partition lineage rows, and
  * idempotent resume — the batch re-realization of the reference's
  * JSON-checkpoint scheme (S10, `extract_type_hierarchy.py:72-115`).
  *
  * Every stage writes `workDir/<stage>/` as Parquet; a stage whose
  * `_COMMITTED` marker already exists is NOT recomputed on resume
  * (restart = skip committed stages, exactly once per stage). The marker
  * is a separate file written AFTER the lineage rows — a crash between
  * the parquet write and the lineage write leaves the stage uncommitted
  * and it recomputes, so a committed stage always has lineage. Markers
  * are resolved through the Hadoop FileSystem API, so HDFS/S3 workDirs
  * resume correctly, not only local paths. Lineage: one row per output
  * partition per stage in `workDir/_lineage/` —
  * (stage, part_id, output_rows, checksum, wall_ms) — checksum is an
  * order-insensitive per-partition XOR of row hashes, so a re-run can be
  * audited partition-by-partition. Lineage + marker are written OFF the
  * critical path (async): downstream stages consume the parquet as soon
  * as it lands, and the run only joins the commit futures at the end —
  * at small corpus sizes this removes ~2 jobs per stage from the
  * parallelism-independent latency floor.
  *
  * Scale shape: stage boundaries are exactly the places a 1000-executor
  * run needs a durable shuffle barrier (dump parse → closure → index →
  * link). Hot-key handling lives inside the stages (Linker salting, AQE
  * skew-join); the runner itself only sequences and commits.
  */
object Pipeline {

  case class StageOutputs(
      items: DataFrame, objects: DataFrame, literals: DataFrame,
      closure: DataFrame, names: DataFrame, postings: DataFrame,
      postings3g: DataFrame, mentions: DataFrame, links: DataFrame,
      canon: DataFrame, pageLinks: DataFrame, triples: DataFrame)

  /** The links stage's linker config: minimum_should_match generation
    * with fuzzy expansions, a relevance-ordered top-32 cut, and no
    * ambiguity features (linking does not read them). */
  val LinkConfig: LinkerConfig = LinkerConfig(limit = 32, fuzzy = true,
    cutByRelevance = true, computeAmbiguity = false, minShouldMatch = true)

  /** The links stage's abstain threshold on `Linker.linkTop1`'s composite. */
  val MinLinkScore: Double = 1.2

  /** Run (or resume) the full pipeline.
    * @param pages input table per BASELINE.json input_hint
    *              (url, warc_ts, html, text, lang)
    * @param dumpLines KG dump JSONL as a `line` column
    * @param workDir   stage-commit directory (checkpoint root)
    * @param memoDir   optional cross-run lookup memo table
    *                  (Linker.linkTop1Memoized): mentions already linked in
    *                  a PREVIOUS run skip candidate generation entirely. */
  def run(spark: SparkSession, pages: DataFrame, dumpLines: DataFrame,
          workDir: String, memoDir: Option[String] = None): StageOutputs = {

    // Independent stage chains run CONCURRENTLY (Spark schedules jobs from
    // multiple driver threads freely): the document side (extract+detect),
    // the literals table and canonicalization overlap the KG chain, and
    // the three posting tables overlap each other — the per-stage commit
    // latency of one chain hides behind another's compute.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    val hadoopFs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(stage: String): Boolean =
      hadoopFs.exists(new Path(s"$workDir/$stage/_COMMITTED"))
    val commitFutures = new java.util.concurrent.ConcurrentLinkedQueue[Future[Unit]]()

    // Write-BEHIND stage commits: the stage output is materialized once in
    // executor storage (localCheckpoint, MEMORY_AND_DISK — also truncates
    // lineage exactly like the old read-back did) and returned
    // immediately; the durable parquet + lineage + `_COMMITTED` marker
    // land asynchronously, marker strictly last. Downstream stages
    // therefore never block on commit I/O — the same write-behind
    // checkpointing a long-running cluster job uses: durability is a
    // RESUME property, not a dataflow barrier, and a crash before the
    // marker simply recomputes the stage (exactly as before). This takes
    // 2 sequential jobs (write + read-back) per stage off the critical
    // path — a fixed, parallelism-independent latency that was a
    // measurable slice of the scaling floor.
    def stage(name: String)(compute: => DataFrame): DataFrame = {
      val path = s"$workDir/$name"
      if (committed(name)) return spark.read.parquet(path)
      val t0 = System.nanoTime()
      // thread-local tag: stage jobs are attributable in the UI/event
      // stream (each stage chain runs on its own driver thread)
      spark.sparkContext.setJobDescription(s"graft-stage:$name")
      val df = compute.localCheckpoint(eager = true)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      commitFutures.add(Future {
        spark.sparkContext.setJobDescription(s"graft-commit:$name")
        df.write.mode("overwrite").parquet(path)
        val out = spark.read.parquet(path)
        // xxhash64 hashes the row struct directly — rendering each row to
        // JSON first built ~2 GB of throwaway strings per bench run across
        // the fat stages. Map columns are hashed as their sorted entry
        // arrays (hash expressions reject MAP inputs because map equality
        // is order-insensitive; sorting the entries restores determinism).
        val hashCols = out.schema.fields.map { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.MapType =>
              array_sort(map_entries(col(f.name)))
            case _ => col(f.name)
          }
        }
        val lineage = out
          .groupBy(spark_partition_id().as("part_id"))
          .agg(count(lit(1)).as("output_rows"),
            bit_xor(xxhash64(struct(hashCols.toSeq: _*))).as("checksum"))
          .withColumn("wall_ms", lit(wallMs))
          .select("part_id", "output_rows", "checksum", "wall_ms")
        // one partition dir per stage (hive-style, `stage` recovered as a
        // partition column on read) — stages commit lineage CONCURRENTLY,
        // and appends to a shared path would race on _temporary
        lineage.write.mode("overwrite").parquet(s"$workDir/_lineage/stage=$name")
        hadoopFs.create(new Path(s"$path/_COMMITTED"), true).close()
      })
      df
    }

    // the decoded dump: materialized once (cached, never committed) by the
    // first of the literals, objects and items stages that runs, and
    // released once all three are done, so its blocks do not stay beside
    // the linking stages. A resume with the three committed never decodes.
    var decoded = false
    lazy val parsed = {
      val p = ParseEntities.parse(dumpLines).persist()
      p.count()
      decoded = true
      p
    }
    lazy val claims = ParseEntities.claims(parsed)

    val fLiterals = Future { stage("literals") { ParseEntities.literals(claims) } }
    val fMentions = Future { stage("mentions") { DetectMentions.ofPages(pages) } }

    val objects = stage("objects") { ParseEntities.objects(claims) }
    val fCanon = Future {
      stage("canon") {
        val equiv = objects.filter(col("pred") === "P460")
          .select(col("subj").as("src"), col("obj").as("dst"))
        Triples.canonMap(equiv)
      }
    }
    val closure = stage("closure") { ParseEntities.subclassClosure(objects) }
    val items = stage("items") { ParseEntities.items(parsed, claims, closure) }
    val names = stage("names") { NameIndex.names(items) }
    val fPostings = Future { stage("postings") { NameIndex.postings(names) } }
    val fPostings3g = Future { stage("postings3g") { NameIndex.postings3g(names) } }
    val fPostingsPair = Future { stage("postings_pair") { NameIndex.postingsPair(names) } }
    // the linking index's derived tables, built CONCURRENTLY with mention
    // extraction — pure KG work that would otherwise sit on the linking
    // DAG's critical path. Not stage-committed: they derive from committed
    // tables, so resume just recomputes.
    val fIndex = for (p <- fPostings; p3 <- fPostings3g; pp <- fPostingsPair) yield
      NameIndex.tables(items, names, p, p3, pp)
    val index = Await.result(fIndex, Duration.Inf)
    val mentions = Await.result(fMentions, Duration.Inf)
    val literals = Await.result(fLiterals, Duration.Inf)
    if (decoded) parsed.unpersist()

    // canonicalized objects do NOT depend on links — materialize them
    // concurrently with the linking DAG (chained off fCanon; registered
    // BEFORE the blocking links stage) so the triples stage only has the
    // pageLinks-dependent join left to do
    val fCanonObjects = fCanon.map { canon =>
      Triples.canonicalize(Triples.canonicalize(objects, canon, "subj"),
        canon, "obj").localCheckpoint(eager = true)
    }

    // ---- linking ----
    val links = stage("links") {
      memoDir match {
        case Some(dir) =>
          Linker.linkTop1Memoized(spark, mentions, index, LinkConfig, MinLinkScore, dir)
        case None => Linker.linkTop1(spark, mentions, index, LinkConfig, MinLinkScore)
      }
    }

    // ---- canonicalization + triples ----
    val canon = Await.result(fCanon, Duration.Inf)
    val pageLinks = stage("page_links") {
      val raw = mentions.join(links, Seq("mention_norm"))
        .select(col("url"), col("qid"))
      Triples.canonicalize(raw, canon, "qid").distinct()
    }
    val triples = stage("triples") {
      Triples.extract(pageLinks, Await.result(fCanonObjects, Duration.Inf))
    }

    // join the async lineage/marker commits before returning — the run is
    // only "complete" when every stage is durably committed
    commitFutures.forEach(f => Await.result(f, Duration.Inf))

    StageOutputs(items, objects, literals, closure, names, index.postings,
      index.postings3g, mentions, links, canon, pageLinks, triples)
  }
}
