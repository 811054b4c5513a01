package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.source.Normalize

/** Structured-Streaming ingest of flat-file drops — the streaming
  * upgrade of [[graft.ingest.BarsIngest]] (reference's append-style
  * re-drops, SURVEY.md §2.9 St4). New CSV(.gz) files landing in the
  * watch directory flow through the same normalization into the same
  * partitioned lake; checkpointing makes duplicate re-drops idempotent
  * (a file already processed is never ingested twice).
  *
  * Idempotent is NOT overwrite: the file source tracks seen FILENAMES
  * in the checkpoint, so a CORRECTED re-drop under the same name is
  * silently skipped — where the reference's overwrite-by-filename
  * convention (ingest.py:294-301) would replace the data. A correction
  * must arrive under a new filename, or go through the batch backfill
  * path ([[graft.ingest.Backfill]]'s dynamic partition overwrite, the
  * ql3 row), which is this engine's replacement for that convention.
  */
object IngestStream {

  /** Raw flat-file schema (string-typed; normalization casts). Streaming
    * sources must declare a schema up front. Long names: the csv source
    * rejects case-colliding fields (`T`/`t`), and flat-file drops use
    * long headers — the short spellings only appear in REST payloads.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("window_start", StringType),
    StructField("open", StringType), StructField("high", StringType),
    StructField("low", StringType), StructField("close", StringType),
    StructField("volume", StringType), StructField("transactions", StringType),
    StructField("vwap", StringType)))

  /** Start the file-drop stream into the lake. With
    * `Trigger.AvailableNow` this processes the current backlog and
    * stops — the batch-equivalent mode used by tests; omit for a
    * continuously-running tail.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      lakeRoot: String,
      checkpoint: String,
      schema: StructType = rawSchema,
      maxFilesPerTrigger: Int = 16,
      availableNow: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(schema)
      .option("header", "true")
      // header NAMES must match the supplied schema: enforceSchema's
      // default (true) ignores the header row and binds by POSITION,
      // so a drop file with reordered columns would silently put epoch
      // strings in `ticker`. false = fail loudly on header mismatch, as
      // the batch twin (BarsIngest.ingest, schema named by the first
      // drop's header) does, keeping the batch/stream same-lake claim
      // honest
      .option("enforceSchema", false)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(watchDir)
    // Same null-partition drop as the batch path (BarsIngest.ingest):
    // rows whose datetime fails to parse must not land in
    // year=__HIVE_DEFAULT_PARTITION__ — both ingest paths produce the
    // same lake for the same malformed input.
    val bars = Normalize.normalizeBars(raw)
      .withColumn("year", year(col("datetime")))
      .withColumn("month", month(col("datetime")))
      .na.drop(Seq("year", "month"))
    val writer = bars.writeStream
      .format("parquet")
      .option("path", lakeRoot)
      .option("checkpointLocation", checkpoint)
      .option("compression", "zstd")
      .partitionBy("ticker", "year", "month")
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Watermarked tumbling-window aggregate over a bar stream — minute
    * bars → hourly OHLCV rollup with late-data tolerance. Demonstrates
    * the event-time path the reference lacks (no watermark concept,
    * SURVEY.md §2.9).
    */
  def hourlyRollup(bars: DataFrame, watermark: String = "2 hours"): DataFrame =
    bars
      .withWatermark("datetime", watermark)
      .groupBy(window(col("datetime"), "1 hour"), col("ticker"))
      .agg(
        min_by(col("open"), col("datetime")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("datetime")).as("close"),
        sum(col("volume")).as("volume"))
      .select(col("window.start").as("datetime"), col("ticker"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
}
