package graft.lake

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FileBridge
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase
import graft.ingest.BarsIngest

/** Pins the driver-side lake open (LakeReader.open, FileBridge): it
  * returns what `spark.read.parquet` returns, on lakes that hold every
  * kind of file the reader must skip, without starting a Spark job; and
  * the pushdown and manifest claims that rest on INT64 `datetime`.
  */
class LakeReaderSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft_lakereader").toString

  private val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"

  private def writeGz(path: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  private def epochMs(ts: String) = java.sql.Timestamp.valueOf(ts).getTime

  /** 40 tickers (more than the 32-directory parallel-listing threshold)
    * plus `brk/b`, whose partition directory name is escaped, over two
    * days of two minute bars. */
  private def bars: Seq[String] =
    for {
      t <- (1 to 40).map(i => f"t$i%02d") :+ "brk/b"
      day <- Seq("2024-01-02", "2024-02-01")
      m <- Seq("14:30", "14:31")
    } yield s"$t,${epochMs(s"$day $m:00")},1,2,0.5,1.5,100,5,1.2"

  /** A lake ingested at `timeframe`, plus what a lake root collects
    * besides data: `_SUCCESS` (the committer's), a `.crc`, IngestCli's
    * `_manifest`, a dot-file and an `_x=1` directory. */
  private def lake(timeframe: String): String = {
    val dir = s"$tmp/$timeframe"
    new java.io.File(dir).mkdirs()
    writeGz(s"$dir/drop.csv.gz", header +: bars)
    val root = s"$dir/lake"
    BarsIngest.ingest(spark, s"$dir/drop.csv.gz", root, timeframe)
    BarsIngest.writeManifest(spark, root, s"$root/_manifest")
    val some = Files.walk(Paths.get(root, "ticker=T01")).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.write(some.resolveSibling(".orphan.parquet.crc"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(root, ".hidden"), "x".getBytes)
    Files.createDirectories(Paths.get(root, "_x=1"))
    Files.write(Paths.get(root, "_x=1", ".keep"), Array.emptyByteArray)
    assert(new java.io.File(s"$root/_SUCCESS").exists())
    root
  }

  private lazy val minuteLake = lake("minute")
  private lazy val dayLake = lake("day")

  private def withFile(df: DataFrame) = df.withColumn("f", input_file_name())

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Jobs started by `body` on this thread: a marker job runs after it
    * in the same group, and listener events arrive in order. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"lakereader-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    val out = try {
      val r = body
      sc.parallelize(Seq(1), 1).count()
      r
    } finally sc.clearJobGroup()
    var n = 0
    eventually(timeout(30.seconds), interval(100.millis)) {
      n = sc.statusTracker.getJobIdsForGroup(group).length
      assert(n >= 1)
    }
    (out, n - 1)
  }

  for ((name, root) <- Seq("minute" -> (() => minuteLake), "day" -> (() => dayLake)))
    test(s"LakeReader.open equals spark.read.parquet on a $name lake, with no job") {
      val lakeRoot = root()
      val (got, jobs) = jobsIn {
        val df = LakeReader.open(spark, lakeRoot)
        df.schema
        df
      }
      assert(jobs == 0, s"opening the lake ran $jobs Spark job(s)")
      val want = spark.read.parquet(lakeRoot)
      assert(got.schema == want.schema)
      val partTypes = got.schema.fields.filter(f =>
        Seq("ticker", "year", "month", "day").contains(f.name)).map(f => f.name -> f.dataType)
      assert(partTypes.toSeq == want.schema.fields.filter(f =>
        Seq("ticker", "year", "month", "day").contains(f.name)).map(f => f.name -> f.dataType).toSeq)
      assert(got.inputFiles.sorted.toSeq == want.inputFiles.sorted.toSeq)
      assert(sorted(withFile(got)) == sorted(withFile(want)))
      assert(got.filter($"ticker" === "BRK/B").count() == 4)
      assert(got.count() == bars.size)
    }

  test("a refreshed index lists again through Spark") {
    val dir = s"$tmp/refresh"
    spark.range(3).coalesce(1).withColumn("ticker", lit("A"))
      .write.partitionBy("ticker").parquet(dir)
    val index = FileBridge.fileIndex(spark, Seq(dir), Map.empty).get
    assert(index.allFiles().size == 1)
    spark.range(2).coalesce(1).withColumn("ticker", lit("B"))
      .write.mode(SaveMode.Append).partitionBy("ticker").parquet(dir)
    assert(index.allFiles().size == 1)
    index.refresh()
    assert(index.allFiles().size == 2)
    assert(index.partitionSpec().partitions.size == 2)
  }

  test("roots the driver listing leaves to spark.read: missing, glob, empty") {
    val e1 = intercept[Exception](LakeReader.open(spark, s"$tmp/no_such_lake"))
    val e2 = intercept[Exception](spark.read.parquet(s"$tmp/no_such_lake"))
    assert(e1.getClass == e2.getClass && e1.getMessage == e2.getMessage)
    val glob = s"$minuteLake/ticker=T01/*/*/*"
    assert(FileBridge.fileIndex(spark, Seq(glob), Map.empty).isEmpty)
    assert(sorted(withFile(LakeReader.open(spark, glob))) ==
      sorted(withFile(spark.read.parquet(glob))))
    Files.createDirectories(Paths.get(tmp, "empty_lake"))
    assert(FileBridge.fileIndex(spark, Seq(s"$tmp/empty_lake"), Map.empty).isEmpty)
  }

  test("an intraday window pushes datetime down and skips row groups of an ingested lake") {
    def window(root: String, from: String, to: String) = {
      val df = LakeReader.read(spark, root,
        start = Some(java.sql.Timestamp.valueOf(s"2024-01-02 $from")),
        end = Some(java.sql.Timestamp.valueOf(s"2024-01-02 $to")))
      val n = df.collect().length
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get
      (n, scan.metadata("PushedFilters"), scan.metrics("numOutputRows").value)
    }
    // month=1 prunes to the 41 January files of two bars (14:30, 14:31)
    val (n, pushed, scanned) = window(minuteLake, "14:30:30", "14:31:00")
    assert(n == 41)
    assert(pushed.contains("GreaterThanOrEqual(datetime,") &&
      pushed.contains("LessThanOrEqual(datetime,"), pushed)
    assert(scanned == 82)
    // a window after every file's max: each row group is skipped
    val (none, _, skipped) = window(minuteLake, "14:31:30", "15:00:00")
    assert(none == 0 && skipped == 0L)
    // the same rows with an INT96 datetime: no min/max, nothing skipped
    val int96 = s"$tmp/int96"
    spark.read.parquet(minuteLake).write.partitionBy("ticker", "year", "month", "day")
      .parquet(int96)
    assert(window(int96, "14:31:30", "15:00:00")._3 == 82L)
  }

  test("a lake of INT96 and INT64 files reads and footer-manifests equal to the scan forms") {
    val root = s"$tmp/mixed"
    val key = "spark.sql.parquet.outputTimestampType"
    def write(ticker: String, tsType: String): Unit = {
      spark.conf.set(key, tsType)
      try Seq(("2024-01-02 14:30:00", 1.5f), ("2024-01-02 14:31:00", 1.6f),
          (null, 1.7f))
        .toDF("ts", "close").coalesce(1)
        .select(to_timestamp($"ts").as("datetime"), $"close",
          lit(ticker).as("ticker"), lit(2024).as("year"), lit(1).as("month"))
        .write.mode(SaveMode.Append).partitionBy("ticker", "year", "month").parquet(root)
      finally spark.conf.unset(key)
    }
    write("OLD", "INT96")
    write("NEW", "TIMESTAMP_MICROS")
    // a file whose datetime is all null has no min/max either
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try Seq((1.8f, "NUL")).toDF("close", "ticker").coalesce(1)
      .select(lit(null).cast("timestamp").as("datetime"), $"close", $"ticker",
        lit(2024).as("year"), lit(1).as("month"))
      .write.mode(SaveMode.Append).partitionBy("ticker", "year", "month").parquet(root)
    finally spark.conf.unset(key)
    assert(sorted(withFile(LakeReader.open(spark, root))) ==
      sorted(withFile(spark.read.parquet(root))))
    val scanManifest = spark.read.parquet(root)
      .groupBy($"ticker", input_file_name().as("path"))
      .agg(min($"datetime").as("start"), max($"datetime").as("end"), count(lit(1)).as("rows"))
    val cols = Seq("ticker", "path", "start", "end", "rows").map(col)
    assert(sorted(BarsIngest.manifest(spark, root).select(cols: _*)) ==
      sorted(scanManifest.select(cols: _*)))
    assert(BarsIngest.manifest(spark, root).count() == 3)
  }

  test("ingest writes the same lake bytes through two different plans") {
    // one drop file, or the same rows split over three drops: the
    // partition + datetime sort fixes every file's row order
    val dir = s"$tmp/bytes"
    new java.io.File(s"$dir/one").mkdirs()
    new java.io.File(s"$dir/three").mkdirs()
    val rows = bars
    writeGz(s"$dir/one/all.csv.gz", header +: rows)
    rows.grouped((rows.size + 2) / 3).zipWithIndex.foreach { case (g, i) =>
      writeGz(s"$dir/three/d$i.csv.gz", header +: g.reverse)
    }
    def bytes(root: String): Map[String, Long] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => Paths.get(root).relativize(p.getParent).toString -> Files.size(p)).toMap
    BarsIngest.ingest(spark, s"$dir/one/*.csv.gz", s"$dir/lake_one", "minute")
    BarsIngest.ingest(spark, s"$dir/three/*.csv.gz", s"$dir/lake_three", "minute")
    val one = bytes(s"$dir/lake_one")
    assert(one.size == 82)
    assert(one == bytes(s"$dir/lake_three"))
  }
}
