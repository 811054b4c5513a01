package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FileBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.source.Normalize

/** Flat-file ingest: CSV(.gz) drops → partitioned zstd parquet lake +
  * manifest. Collapses the reference's six-stage hand-parallelized
  * pipeline (SURVEY.md §3.1: file discovery, static month→worker hash
  * partitioning, process pool, per-worker chunked read, grouped bucket
  * writes, threaded manifest scan — ingest.py:425-545) into one lazy
  * Spark plan: the month→worker ownership trick IS a shuffle on the
  * partition key, and the `.inprogress`→rename commit is Spark's output
  * committer.
  *
  * Scale design: hive-style `ticker=…/year=…/month=…` partitioning gives
  * directory pruning for free; `repartition` by the partition key before
  * `partitionBy` produces one writer task per bucket (no small-file
  * explosion across 1000 executors); parquet zstd + footer min/max stats
  * replace the JSON manifest for pruning, with [[manifest]] kept as a
  * queryable audit artifact.
  */
object BarsIngest {

  /** Ingest a glob of CSV(.gz) bar drops into `lakeRoot`.
    *
    * @param timeframe "day" (partition ticker/year/month) or "minute"
    *                  (adds day) — mirrors the reference layouts
    *                  `<TICKER>/<YYYY>/<MM>[/<DD>].parquet` (ingest.py:9-11)
    * @param watchlist keep only these tickers when non-empty (P4)
    * @param only      single-ticker filter (P3, `--only`)
    */
  def ingest(
      spark: SparkSession,
      csvGlob: String,
      lakeRoot: String,
      timeframe: String = "day",
      watchlist: Seq[String] = Nil,
      only: Option[String] = None,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(timeframe == "day" || timeframe == "minute", s"bad timeframe $timeframe")
    val bars = Normalize.normalizeBars(readDrops(spark, csvGlob))
      .transform(d => only.fold(d)(t => d.filter(col("ticker") === t.toUpperCase)))
      .transform(d => if (watchlist.isEmpty) d
        else d.filter(col("ticker").isin(watchlist.map(_.toUpperCase): _*)))
      .withColumn("year", year(col("datetime")))
      .withColumn("month", month(col("datetime")))
      .transform(d => if (timeframe == "minute")
        d.withColumn("day", dayofmonth(col("datetime"))) else d)
      .na.drop(Seq("year", "month"))
    val partCols = if (timeframe == "minute") Seq("ticker", "year", "month", "day")
      else Seq("ticker", "year", "month")
    // INT64 micros, not the session's INT96 default: parquet keeps
    // footer min/max for INT64 only, which [[manifest]] reads and
    // datetime filters push down to. The conf is read when the write
    // plans, so it is set only around it. Sorting by the partition
    // columns first meets the planned write's required ordering, so no
    // second sort reorders a file's rows away from datetime order.
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try bars
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols :+ "datetime").map(col): _*)
      .write
      .mode(mode)
      .option("compression", "zstd")
      .partitionBy(partCols: _*)
      .parquet(lakeRoot)
    finally prevTs match {
      case Some(v) => spark.conf.set(tsType, v)
      case None => spark.conf.unset(tsType)
    }
  }

  /** The drop files under `csvGlob` as all-string columns named by the
    * header of the first file, read on the driver. Spark checks every
    * other file's header against those names (`enforceSchema=false`)
    * and fails the read on a mismatch: without a schema it would map a
    * file with reordered columns by position and only log a warning.
    * Headers whose names Spark has to rename (duplicates, blanks) can
    * match no file, so they keep the positional read.
    */
  private def readDrops(spark: SparkSession, csvGlob: String): DataFrame = {
    val opts = Map("header" -> "true", "inferSchema" -> "false")
    FileBridge.csvHeaderSchema(spark, csvGlob, opts) match {
      case Some((schema, byName)) =>
        spark.read.options(opts).schema(schema)
          .option("enforceSchema", !byName).csv(csvGlob)
      case None => spark.read.options(opts).csv(csvGlob)
    }
  }

  /** File-level manifest: per (ticker, file) min/max datetime + rows —
    * the reference's JSON zone-map (ingest.py:345-422). Read from each
    * file's footer on the driver: the row count and the `datetime`
    * column's min/max statistics. A file whose footer has no `datetime`
    * min/max (INT96 from older writers, all-null) is scanned instead, as
    * a one-job aggregate. Kept for audit; query pruning itself rides on
    * hive partitions + parquet footer stats.
    */
  def manifest(spark: SparkSession, lakeRoot: String): DataFrame =
    fileManifest(spark, lakeRoot, Seq(lakeRoot))

  def writeManifest(spark: SparkSession, lakeRoot: String, out: String): Unit =
    manifest(spark, lakeRoot)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out)

  /** The manifest of the files under `paths`, partitions read from
    * `lakeRoot` down. */
  private def fileManifest(spark: SparkSession, lakeRoot: String,
      paths: Seq[String]): DataFrame = {
    // basePath keeps the hive partition columns (ticker/year/month)
    // resolvable when reading partition subdirectories or files directly
    val options = Map("basePath" -> lakeRoot)
    def scan(files: Seq[String]) = spark.read.options(options).parquet(files: _*)
      .groupBy(col("ticker"), input_file_name().as("path"))
      .agg(
        min(col("datetime")).as("start"),
        max(col("datetime")).as("end"),
        count(lit(1)).as("rows"))
    val index = FileBridge.fileIndex(spark, paths, options)
      .filter(_.partitionSchema.exists(f => f.name == "ticker" && f.dataType == StringType))
    index.fold(scan(paths)) { ix =>
      val tickerAt = ix.partitionSchema.fieldIndex("ticker")
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      // One options object per call: building it walks the whole
      // Hadoop conf, which costs more than reading a footer.
      val readOpts = HadoopReadOptions.builder(conf).build()
      val files = for {
        dir <- ix.listFiles(Nil, Nil)
        f <- dir.files
      } yield {
        val ticker = if (dir.values.isNullAt(tickerAt)) null
          else dir.values.getUTF8String(tickerAt).toString
        (ticker, f.fileStatus, footerStats(f.fileStatus, conf, readOpts))
      }
      val footed = files.collect { case (t, st, Some((rows, lo, hi))) if rows > 0 =>
        Row(t, st.getPath.toUri.toString, lo, hi, rows) }
      val fromFooters = spark.createDataFrame(footed.asJava, StructType(Seq(
          StructField("ticker", StringType), StructField("path", StringType),
          StructField("start", LongType), StructField("end", LongType),
          StructField("rows", LongType))))
        .select(col("ticker"), col("path"), timestamp_micros(col("start")).as("start"),
          timestamp_micros(col("end")).as("end"), col("rows"))
      val unfooted = files.collect { case (_, st, None) => st.getPath.toString }
      if (unfooted.isEmpty) fromFooters
      else fromFooters.unionByName(scan(unfooted))
    }
  }

  /** (rows, min, max) of `datetime` in epoch µs from one file's footer.
    * None when the footer cannot give them exactly: no INT64 UTC
    * `TIMESTAMP(MICROS)` `datetime` column, or a row group without
    * min/max (INT96 carries none; an all-null group counts only when
    * its null count says so), or no value at all. A file of 0 rows
    * gives Some.
    */
  private def footerStats(st: FileStatus, conf: Configuration,
      readOpts: ParquetReadOptions): Option[(Long, Long, Long)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), readOpts)
    val meta = try reader.getFooter finally reader.close()
    val schema = meta.getFileMetaData.getSchema
    val micros = schema.containsField("datetime") && {
      val t = schema.getType(schema.getFieldIndex("datetime"))
      t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        (t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation =>
            ts.isAdjustedToUTC && ts.getUnit == TimeUnit.MICROS
          case _ => false
        })
    }
    val blocks = meta.getBlocks.asScala.toSeq
    val stats = blocks.map(b => b.getRowCount ->
      b.getColumns.asScala.find(_.getPath.toDotString == "datetime").map(_.getStatistics))
    val exact = micros && stats.forall { case (n, s) =>
      s.exists(s => !s.isEmpty && (s.hasNonNullValue || s.getNumNulls == n)) }
    val ranged = stats.flatMap(_._2).filter(_.hasNonNullValue)
    val rows = blocks.map(_.getRowCount).sum
    if (!exact) None
    else if (rows == 0) Some((0L, 0L, 0L))
    else if (ranged.isEmpty) None
    else Some((rows,
      ranged.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
      ranged.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max))
  }

  /** Incremental manifest maintenance: read ONLY the files under the
    * partition paths touched by a new drop and merge into the previous manifest. Every
    * prior entry UNDER a touched path is evicted first — a dynamic
    * partition overwrite deletes the old files and writes new names, so
    * matching on file paths would leave stale entries for files that no
    * longer exist. At lake scale this turns the nightly manifest job
    * from a 100 TB rescan into the day's drop's footers.
    */
  def mergeManifest(
      spark: SparkSession, prevManifest: DataFrame,
      lakeRoot: String, newPaths: Seq[String]): DataFrame = {
    // Resolve every touched path ONCE: qualified URI ("..", "//",
    // trailing slash collapsed — immune to file:/ vs file:///
    // rendering) plus its status — Some(isDir) if it exists, None if
    // deleted. Deleted paths still participate in EVICTION (that is how
    // a deletion propagates to the manifest) but are excluded from the
    // delta read, which would otherwise fail on a missing path.
    val hconf = spark.sparkContext.hadoopConfiguration
    val resolved = newPaths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val q = fs.makeQualified(hp)
      val status =
        try Some(fs.getFileStatus(q).isDirectory)
        catch { case _: java.io.FileNotFoundException => None }
      (q, status)
    }
    val existing = resolved.collect { case (q, Some(_)) => q.toString }
    val delta = if (existing.isEmpty) prevManifest.limit(0)
      else fileManifest(spark, lakeRoot, existing)
    // Eviction matches on NORMALIZED path components, both sides (the
    // manifest column gets its URI scheme+authority stripped).
    // Directories evict on the "/"-terminated prefix (a raw
    // ".../month=1" substring would also evict month=10..12 without
    // re-adding them); a leaf FILE path evicts exactly its own entry. A
    // path that no longer EXISTS (deleted partition dir or deleted leaf
    // file — getFileStatus cannot tell which it was) evicts BOTH forms,
    // so deletions always propagate instead of leaving a stale row
    // whose delta scan contributes nothing (reference semantics: the
    // rebuild in ingest.py:345-422 can never go stale).
    val manifestPath = regexp_replace(
      regexp_replace(col("path"), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:", "")
    val underTouched = resolved.map { case (q, status) =>
      val uri = q.toUri.getPath
      status match {
        case Some(true)  => manifestPath.startsWith(uri + "/")
        case Some(false) => manifestPath === uri
        case None        => manifestPath.startsWith(uri + "/") || manifestPath === uri
      }
    }.reduce(_ || _)
    prevManifest.filter(!underTouched).unionByName(delta)
  }
}
