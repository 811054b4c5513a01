package org.apache.spark.sql.graftbridge

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.format.converter.ParquetMetadataConverter

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** File-source metadata on the driver: the listing, the file index, the
  * parquet data schema and the CSV header that `spark.read` would
  * otherwise get from Spark jobs (a partition-listing job once a level
  * holds more than `parallelPartitionDiscovery.threshold` directories, a
  * footer job for the schema, a `take(1)` text scan for a CSV header).
  * Each piece calls the Spark routine the reader itself uses, so the
  * result is the reader's: hidden-file rules, partition inference and
  * types, missing-file and block-location handling. Lives in the
  * org.apache.spark.sql tree because those routines are `private[spark]`.
  */
object FileBridge {

  /** Leaf files under `roots`, as Spark's file index lists them. A local
    * (`file`) root is listed on the driver and never starts a job: the
    * calls are in-process, so a job only adds task launch and a Hadoop-
    * conf deserialization per task. Any other scheme lists exactly as
    * `InMemoryFileIndex` does, whose job parallelizes remote metadata
    * calls past the session's threshold.
    */
  private def listLeafFiles(spark: SparkSession, roots: Seq[Path], options: Map[String, String],
      hadoopConf: Configuration): Seq[(Path, Seq[FileStatus])] = {
    val inputFilter = FileInputFormat.getInputPathFilter(new JobConf(hadoopConf, getClass))
    val local = roots.headOption.exists(_.getFileSystem(hadoopConf).getScheme == "file")
    if (!local)
      return InMemoryFileIndex.bulkListLeafFiles(roots, hadoopConf, inputFilter, spark, options)
    val conf = spark.sessionState.conf
    HadoopFSUtils.parallelListLeafFiles(
      sc = spark.sparkContext,
      paths = roots,
      hadoopConf = hadoopConf,
      filter = new VisibleFiles(inputFilter),
      ignoreMissingFiles =
        new FileSourceOptions(CaseInsensitiveMap(options)).ignoreMissingFiles,
      ignoreLocality = conf.ignoreDataLocality,
      parallelismThreshold = Int.MaxValue,
      parallelismMax = conf.parallelPartitionDiscoveryParallelism)
  }

  /** The file index `spark.read.options(options).parquet(roots: _*)`
    * builds, from one [[listLeafFiles]] call. None when the reader must
    * decide itself: a glob root, a streaming sink's `_spark_metadata`
    * log, or nothing listed (a missing or empty root, whose error or
    * empty frame the reader owns).
    */
  def fileIndex(spark: SparkSession, roots: Seq[String],
      options: Map[String, String]): Option[InMemoryFileIndex] = {
    val opts = CaseInsensitiveMap(options)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(opts)
    val paths = roots.map { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(hadoopConf)
      p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    }
    if (paths.exists(SparkHadoopUtil.get.isGlobPath) ||
        (roots.size == 1 &&
          FileStreamSink.hasMetadata(roots, hadoopConf, spark.sessionState.conf)))
      return None
    val listed = listLeafFiles(spark, paths, opts, hadoopConf)
    if (listed.forall(_._2.isEmpty)) None
    else Some(new InMemoryFileIndex(spark, paths, opts, None, new ListedFiles(listed)))
  }

  /** `index` as a parquet DataFrame, equal to `spark.read.parquet`'s:
    * the data schema comes from the footer Spark's non-merging rule
    * picks (`_common_metadata`, then `_metadata`, then the first data
    * file by path), read on the driver. A session that merges schemas
    * keeps Spark's own footer job.
    */
  def parquetFrame(spark: SparkSession, index: InMemoryFileIndex): DataFrame = {
    val format = new ParquetFileFormat()
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val dataSchema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled)
        format.inferSchema(spark, Map.empty, files).get
      else {
        val pick = named("_common_metadata").orElse(named("_metadata"))
          .getOrElse(files.filterNot(f =>
            Seq("_common_metadata", "_metadata").contains(f.getPath.getName)).head)
        val footer = new Footer(pick.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(pick, spark.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, Map.empty)(spark))
  }

  /** The all-string schema a header-only CSV read of `glob` infers:
    * the first line of its first file (by path) through Hadoop's codec
    * factory, parsed with the read's `CSVOptions` and named by
    * `makeSafeHeader`, so no text-scan job runs. The flag says whether
    * the names are the header's own; deduplicated or blank names are
    * not, and no file's header could then match them by name. None when
    * the glob lists no file with a non-empty line.
    */
  def csvHeaderSchema(spark: SparkSession, glob: String,
      options: Map[String, String]): Option[(StructType, Boolean)] = {
    val conf = spark.sessionState.conf
    val csv = new CSVOptions(CaseInsensitiveMap(options), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val p = new Path(glob)
    val matched = Option(p.getFileSystem(hadoopConf).globStatus(p)).toSeq.flatten.map(_.getPath)
    val first = if (matched.isEmpty) None
      else listLeafFiles(spark, matched, options, hadoopConf).flatMap(_._2)
        .sortBy(_.getPath.toString).headOption
    first.flatMap(f => CSVUtils.readHeaderLine(f.getPath, csv, hadoopConf)).map { line =>
      val raw = new CsvParser(csv.asParserSettings).parseLine(line)
      val names = CSVUtils.makeSafeHeader(raw, conf.caseSensitiveAnalysis, csv)
      (StructType(names.map(StructField(_, StringType))), names.sameElements(raw))
    }
  }

  /** Spark's file-index filter: the input filter of the Hadoop conf,
    * then the hidden-name rule (`_`/`.` names, `._COPYING_`). */
  private final class VisibleFiles(inputFilter: PathFilter) extends PathFilter with Serializable {
    override def accept(path: Path): Boolean =
      (inputFilter == null || inputFilter.accept(path)) &&
        !HadoopFSUtils.shouldFilterOutPathName(path.getName)
  }

  /** The listing handed to the file index. After `invalidateAll` (a
    * `refresh`) it returns None, so the index lists again through Spark. */
  private final class ListedFiles(listed: Seq[(Path, Seq[FileStatus])]) extends FileStatusCache {
    @volatile private var files: Map[Path, Array[FileStatus]] =
      listed.map { case (p, fs) => p -> fs.toArray }.toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = files.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
      synchronized { files += path -> leafFiles }
    override def invalidateAll(): Unit = synchronized { files = Map.empty }
  }
}
