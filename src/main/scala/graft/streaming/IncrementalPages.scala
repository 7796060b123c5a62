package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental page ingestion as Structured Streaming.
  *
  * The reference's ingest is a resumable batch stream with JSON
  * checkpoints (S10, `extract_type_hierarchy.py:72-115`); the reference
  * has no event-time/streaming semantics (SURVEY.md §2.11). The faithful
  * Spark-native form is a file-source stream with
  * `Trigger.AvailableNow`: each run drains the page batches that arrived
  * since the last run, runs extraction + mention detection incrementally,
  * and the stream checkpoint (offsets in `checkpointDir`) replaces the
  * reference's byte-offset checkpoint file — exactly-once per input file,
  * resumable after kill, no reprocessing.
  *
  * Scale notes: the query is stateless (extract/detect are per-row), so
  * no state store grows; `maxFilesPerTrigger` bounds per-micro-batch work
  * when catching up after downtime.
  */
object IncrementalPages {

  /** Start (or resume) the incremental extract+detect stream.
    * @param pagesDir   directory receiving page Parquet batches
    * @param outDir     append-only mention table
    * @param checkpointDir stream checkpoint (the resume token)
    * @return the started query (AvailableNow: terminates when drained) */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
          checkpointDir: String, maxFilesPerTrigger: Int = 64): StreamingQuery = {
    val pages = spark.readStream
      .schema("url string, warc_ts timestamp, html binary, text string, lang string")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesDir)

    graft.kg.DetectMentions.ofPages(pages).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Windowed mention-rate monitoring over the incremental stream — the
    * one event-time aggregation the corpus shape supports (warc_ts
    * tumbling windows with a late-data watermark). Demonstrates
    * watermark + windowed agg on the same source; used by the spec. */
  def mentionRate(spark: SparkSession, pagesDir: String, outDir: String,
                  checkpointDir: String): StreamingQuery = {
    val pages = spark.readStream
      .schema("url string, warc_ts timestamp, html binary, text string, lang string")
      .parquet(pagesDir)
    val counts = pages
      .withColumn("n_mentions",
        size(graft.kg.DetectMentions.detect(graft.kg.ExtractText.extract(col("html")))))
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "10 minutes"), col("lang"))
      .agg(sum(col("n_mentions")).as("mentions"), count(lit(1)).as("pages"))
      .select(col("window.start").as("win_start"), col("lang"),
        col("mentions"), col("pages"))

    counts.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
