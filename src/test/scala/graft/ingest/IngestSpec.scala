package graft.ingest

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.LakeReader
import graft.source.Normalize

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private def writeGz(path: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  private lazy val tmp = Files.createTempDirectory("graft_ingest").toString

  // Two months of daily bars, flat-file long-name header (the T/t short
  // names are REST-payload spellings; CSV headers use long names —
  // Spark's CSV reader would dedup case-colliding T/t to T0/t1 anyway),
  // epoch-millis timestamps.
  private lazy val lakeRoot: String = {
    val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"
    def epochMs(day: String) = java.sql.Timestamp.valueOf(s"$day 21:00:00").getTime
    val rows = Seq(
      s"aapl,${epochMs("2024-01-02")},1,2,0.5,1.5,100,5,1.2",
      s"aapl,${epochMs("2024-02-01")},2,3,1.5,2.5,200,6,2.2",
      s"msft,${epochMs("2024-01-02")},5,6,4.5,5.5,300,7,5.2")
    writeGz(s"$tmp/drop1.csv.gz", header +: rows)
    val root = s"$tmp/lake"
    BarsIngest.ingest(spark, s"$tmp/*.csv.gz", root, timeframe = "day")
    root
  }

  test("csv.gz -> partitioned lake roundtrip with normalization") {
    val lake = spark.read.parquet(lakeRoot)
    assert(lake.count() == 3)
    assert(lake.columns.contains("year") && lake.columns.contains("month"))
    val row = lake.filter($"ticker" === "AAPL" && $"month" === 1)
      .select($"close", $"volume").as[(Float, Long)].head()
    assert(row == ((1.5f, 100L)))
    // hive layout on disk
    assert(new java.io.File(s"$lakeRoot/ticker=AAPL/year=2024/month=1").exists())
  }

  test("manifest aggregates per-file min/max/rows") {
    val m = BarsIngest.manifest(spark, lakeRoot)
    assert(m.count() == 3) // one file per (ticker,year,month)
    val aapl = m.filter($"ticker" === "AAPL").agg(sum($"rows")).as[Long].head()
    assert(aapl == 2L)
  }

  test("incremental manifest merge equals a full rebuild after a re-drop") {
    // self-contained mini-lake (the shared fixture must stay unmutated)
    val root = s"$tmp/lake_mm"
    val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"
    def epochMs(day: String) = java.sql.Timestamp.valueOf(s"$day 21:00:00").getTime
    writeGz(s"$tmp/mm_drop1.csv.gz", Seq(header,
      s"aapl,${epochMs("2024-01-02")},1,2,0.5,1.5,100,5,1.2",
      s"aapl,${epochMs("2024-02-01")},2,3,1.5,2.5,200,6,2.2",
      s"msft,${epochMs("2024-01-02")},5,6,4.5,5.5,300,7,5.2"))
    BarsIngest.ingest(spark, s"$tmp/mm_drop1.csv.gz", root, timeframe = "day")
    val full0 = BarsIngest.manifest(spark, root).collect()
    val full0Df = spark.createDataFrame(
      spark.sparkContext.parallelize(full0.toSeq),
      BarsIngest.manifest(spark, root).schema)
    // re-drop via dynamic partition overwrite (the St3 mechanism):
    // AAPL 2024-01 is recomputed with an extra row; other partitions
    // stay untouched on disk
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.read.option("basePath", root).parquet(s"$root/ticker=AAPL/year=2024/month=1")
        .unionByName(spark.read.option("basePath", root)
          .parquet(s"$root/ticker=AAPL/year=2024/month=1")
          .withColumn("datetime",
            org.apache.spark.sql.functions.expr("datetime + INTERVAL 13 DAYS")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("ticker", "year", "month").parquet(root)
    } finally {
      prevMode match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    val part = s"$root/ticker=AAPL/year=2024/month=1"
    val merged = BarsIngest.mergeManifest(spark, full0Df, root, Seq(part))
    val rebuilt = BarsIngest.manifest(spark, root)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"ticker", $"path", $"start", $"end", $"rows")
        .orderBy($"path").collect().toSeq
    assert(canon(merged) === canon(rebuilt))
    // the replaced AAPL-Jan file now counts 2 rows
    assert(merged.filter($"ticker" === "AAPL" && $"path".contains("month=1"))
      .agg(sum($"rows")).as[Long].head() === 2L)
  }

  test("manifest merge of month=1 does not evict month=10/11/12 entries") {
    // path-substring trap: "month=1" is a prefix of "month=10"; the
    // eviction match must stop at the directory boundary
    val root = s"$tmp/lake_mm2"
    val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"
    def epochMs(day: String) = java.sql.Timestamp.valueOf(s"$day 21:00:00").getTime
    writeGz(s"$tmp/mm2_drop1.csv.gz", Seq(header,
      s"aapl,${epochMs("2024-01-02")},1,2,0.5,1.5,100,5,1.2",
      s"aapl,${epochMs("2024-10-02")},2,3,1.5,2.5,200,6,2.2",
      s"aapl,${epochMs("2024-11-04")},3,4,2.5,3.5,300,7,3.2",
      s"aapl,${epochMs("2024-12-02")},4,5,3.5,4.5,400,8,4.2"))
    BarsIngest.ingest(spark, s"$tmp/mm2_drop1.csv.gz", root, timeframe = "day")
    val full0 = BarsIngest.manifest(spark, root).collect()
    val full0Df = spark.createDataFrame(
      spark.sparkContext.parallelize(full0.toSeq),
      BarsIngest.manifest(spark, root).schema)
    // merge a delta that touches ONLY month=1
    val part = s"$root/ticker=AAPL/year=2024/month=1"
    val merged = BarsIngest.mergeManifest(spark, full0Df, root, Seq(part))
    val rebuilt = BarsIngest.manifest(spark, root)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"ticker", $"path", $"start", $"end", $"rows")
        .orderBy($"path").collect().toSeq
    assert(canon(merged) === canon(rebuilt))
    // month=10/11/12 entries must survive the merge
    assert(merged.filter($"path".contains("month=10/")).count() === 1L)
    assert(merged.filter($"path".contains("month=11/")).count() === 1L)
    assert(merged.filter($"path".contains("month=12/")).count() === 1L)

    // a newPath pointing at a LEAF FILE (not a partition directory) must
    // evict exactly that file's stale entry — the old trailing-"/" match
    // never matched files, leaving a duplicate row after the merge
    val leaf = new java.io.File(part).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val mergedLeaf = BarsIngest.mergeManifest(spark, full0Df, root, Seq(leaf))
    assert(canon(mergedLeaf) === canon(rebuilt))
    // scheme-qualified rendering of the same file normalizes identically
    val mergedUri = BarsIngest.mergeManifest(spark, full0Df, root,
      Seq(s"file:$leaf"))
    assert(canon(mergedUri) === canon(rebuilt))

    // a DELETED leaf file must be evicted, not survive as a stale row:
    // getFileStatus can no longer tell file from directory, so the merge
    // must drop both the exact-path row and any "p/"-prefixed rows (and
    // must not crash scanning the missing path). Reference semantics:
    // the full rebuild (ingest.py:345-422) can never go stale.
    val month10 = new java.io.File(s"$root/ticker=AAPL/year=2024/month=10")
    val leaf10 = month10.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(leaf10.delete(), s"could not delete fixture $leaf10")
    val mergedDel = BarsIngest.mergeManifest(spark, full0Df, root,
      Seq(leaf10.getAbsolutePath))
    assert(mergedDel.filter($"path".contains("month=10/")).count() === 0L)
    // untouched entries survive
    assert(mergedDel.filter($"path".contains("month=11/")).count() === 1L)
    assert(canon(mergedDel) === canon(BarsIngest.manifest(spark, root)))

    // a deleted partition DIRECTORY propagates the same way (the
    // dropped-partition maintenance case: remove dir, merge its path)
    val month11 = new java.io.File(s"$root/ticker=AAPL/year=2024/month=11")
    month11.listFiles().foreach(f => assert(f.delete()))
    assert(month11.delete(), s"could not delete fixture dir $month11")
    val mergedDelDir = BarsIngest.mergeManifest(spark, full0Df, root,
      Seq(month11.getAbsolutePath))
    assert(mergedDelDir.filter($"path".contains("month=11/")).count() === 0L)
    assert(mergedDelDir.filter($"path".contains("month=12/")).count() === 1L)
  }

  /** The former manifest: one aggregate over a scan of the lake, kept
    * as the oracle of the footer-read one. */
  private def scanManifest(root: String) =
    spark.read.parquet(root)
      .groupBy($"ticker", input_file_name().as("path"))
      .agg(min($"datetime").as("start"), max($"datetime").as("end"),
        count(lit(1)).as("rows"))

  private def canonManifest(df: org.apache.spark.sql.DataFrame) =
    df.select($"ticker", $"path", $"start", $"end", $"rows").orderBy($"path").collect().toSeq

  test("the footer manifest equals the scan manifest on the fixtures and a " +
      "bench-shaped lake") {
    assert(canonManifest(BarsIngest.manifest(spark, lakeRoot)) ==
      canonManifest(scanManifest(lakeRoot)))
    // minute drops: one file per trading day with every ticker, 390
    // session minutes, some minutes without a trade, ns epochs
    val dir = Files.createTempDirectory("graft_benchshape").toString
    val rnd = new scala.util.Random(7)
    val tickers = (1 to 12).map(i => f"t$i%02d") :+ "brk/b"
    for (day <- Seq("2024-03-04", "2024-03-05", "2024-04-01")) {
      val open = java.sql.Timestamp.valueOf(s"$day 14:30:00").getTime * 1000000L
      val rows = for (t <- tickers; m <- 0 until 390 if rnd.nextDouble() > 0.02)
        yield s"$t,${open + m * 60000000000L},1,2,0.5,${1 + rnd.nextInt(100)},100,5,1.2"
      writeGz(s"$dir/$day.csv.gz",
        "ticker,window_start,open,high,low,close,volume,transactions,vwap" +: rnd.shuffle(rows))
    }
    BarsIngest.ingest(spark, s"$dir/*.csv.gz", s"$dir/lake", timeframe = "minute")
    val got = canonManifest(BarsIngest.manifest(spark, s"$dir/lake"))
    assert(got.size == 3 * tickers.size)
    assert(got == canonManifest(scanManifest(s"$dir/lake")))
  }

  /** The former drop read, kept as the oracle: names from one file's
    * header, every file mapped by position. */
  private def positionalIngest(glob: String, root: String): Unit =
    Normalize.normalizeBars(spark.read.option("header", "true")
        .option("inferSchema", "false").csv(glob))
      .withColumn("year", year($"datetime")).withColumn("month", month($"datetime"))
      .na.drop(Seq("year", "month"))
      .repartition($"ticker", $"year", $"month").sortWithinPartitions($"datetime")
      .write.option("compression", "zstd").partitionBy("ticker", "year", "month")
      .parquet(root)

  test("drops with equal headers ingest to the same lake as the positional read") {
    val dir = Files.createTempDirectory("graft_hdr_eq").toString
    val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"
    def epochMs(day: String) = java.sql.Timestamp.valueOf(s"$day 21:00:00").getTime
    writeGz(s"$dir/a.csv.gz", Seq(header,
      s"aapl,${epochMs("2024-01-02")},1,2,0.5,1.5,100,5,1.2",
      s"msft,${epochMs("2024-01-02")},5,6,4.5,5.5,300,7,5.2"))
    writeGz(s"$dir/b.csv.gz", Seq(header,
      s"aapl,${epochMs("2024-02-01")},2,3,1.5,2.5,200,6,2.2",
      s"msft,${epochMs("2024-02-01")},5,6,4.5,,,7,"))
    BarsIngest.ingest(spark, s"$dir/*.csv.gz", s"$dir/lake", timeframe = "day")
    positionalIngest(s"$dir/*.csv.gz", s"$dir/oracle")
    def rows(root: String) = spark.read.parquet(root)
      .withColumn("dir", regexp_extract(input_file_name(), "(ticker=.*)/[^/]+$", 1))
      .collect().toSeq.sortBy(_.toString)
    assert(rows(s"$dir/lake").size == 4)
    assert(rows(s"$dir/lake") == rows(s"$dir/oracle"))
    assert(spark.read.parquet(s"$dir/lake").schema == spark.read.parquet(s"$dir/oracle").schema)
    // a header Spark must rename (a repeated name) can match no file by
    // name, so it keeps the positional read
    val dup = Files.createTempDirectory("graft_hdr_dup").toString
    writeGz(s"$dup/a.csv.gz", Seq("ticker,window_start,close,close",
      s"aapl,${epochMs("2024-01-02")},1.5,1.6"))
    BarsIngest.ingest(spark, s"$dup/*.csv.gz", s"$dup/lake", timeframe = "day")
    positionalIngest(s"$dup/*.csv.gz", s"$dup/oracle")
    assert(rows(s"$dup/lake").size == 1)
    assert(rows(s"$dup/lake") == rows(s"$dup/oracle"))
  }

  test("a drop whose header names the columns in another order fails the ingest") {
    // by position, the second file's close would land in ticker
    val dir = Files.createTempDirectory("graft_hdr_swap").toString
    def epochMs(day: String) = java.sql.Timestamp.valueOf(s"$day 21:00:00").getTime
    writeGz(s"$dir/a.csv.gz", Seq("ticker,window_start,close",
      s"aapl,${epochMs("2024-01-02")},1.5"))
    writeGz(s"$dir/b.csv.gz", Seq("close,window_start,ticker",
      s"2.5,${epochMs("2024-01-03")},bbb"))
    val e = intercept[Exception](
      BarsIngest.ingest(spark, s"$dir/*.csv.gz", s"$dir/lake", timeframe = "day"))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(_.contains("CSV header does not conform to the schema")), msgs)
    // the positional read names the columns from one file and maps the
    // other's close into ticker
    val oracle = spark.read.option("header", "true").csv(s"$dir/*.csv.gz")
    assert(oracle.filter($"ticker".isin("1.5", "2.5")).count() == 1)
  }

  test("LakeReader prunes by ticker + range and pads missing columns") {
    val got = LakeReader.read(spark, lakeRoot,
      tickers = Seq("aapl"),
      start = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      end = Some(java.sql.Timestamp.valueOf("2024-01-31 00:00:00")),
      endIsDateOnly = true,
      columns = Seq("close", "nonexistent_col"))
    val rows = got.collect()
    assert(rows.length == 1)
    assert(got.columns.toSeq == Seq("datetime", "ticker", "close", "nonexistent_col"))
    assert(rows(0).isNullAt(3))
    // partition pruning visible in the plan: only month=1 read
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("month=2") || plan.contains("PartitionFilters"))
  }

  test("the QA join takes its timeframe from the lake layout") {
    // Two minute bars of one ticker-day: joined as a day lake every bar
    // would match both adjusted bars of its day (4 rows, not 2).
    val header = "ticker,window_start,open,high,low,close,volume,transactions,vwap"
    def epochMs(ts: String) = java.sql.Timestamp.valueOf(ts).getTime
    val dir = Files.createTempDirectory("graft_tf").toString
    writeGz(s"$dir/minute.csv.gz", Seq(header,
      s"aapl,${epochMs("2024-01-02 14:30:00")},1,2,0.5,1.5,100,5,1.2",
      s"aapl,${epochMs("2024-01-02 14:31:00")},1,2,0.5,1.6,100,5,1.2"))
    BarsIngest.ingest(spark, s"$dir/minute.csv.gz", s"$dir/lake", timeframe = "minute")
    val raw = LakeReader.read(spark, s"$dir/lake")
    assert(graft.query.Series.timeframeOf(raw) == "minute")
    assert(graft.query.Series.timeframeOf(LakeReader.read(spark, lakeRoot)) == "day")
    val noSm = Seq.empty[(String, String, java.sql.Date, java.sql.Date)]
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val noSplits = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("ticker", "execution_date", "ratio")
    val noDiv = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("ticker", "ex_date", "cash_amount")
    val adj = graft.adjust.Adjuster.buildAdjusted(raw, noSm, noSplits, noDiv)
    val series = graft.query.Series.loadSeries(raw, adj, graft.query.Series.timeframeOf(raw))
    assert(series.count() == 2)
    assert(series.filter($"close".cast("double") =!= $"close_sa").count() == 0)
  }
}
