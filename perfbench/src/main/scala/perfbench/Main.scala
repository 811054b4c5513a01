package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.adjust.Adjuster
import graft.ingest.BarsIngest
import graft.lake.LakeReader
import graft.query.Series

/** The benchmark's JVM side. Runs one workload against inputs the
  * generator already wrote, prints one `PB {json}` line per timed
  * operation, and leaves the outputs on disk for the checks.
  *
  * Usage: perfbench.Main <workload> <workDir> <outDir> <seconds> <trace 0|1>
  */
object Main {
  private var trace: Trace = _

  private def setupDone(): Unit = {
    trace.mark("setup_done")
    emit(s"""{"event":"setup_done"}""")
  }
  private def emit(json: String): Unit = { println("PB " + json); Console.flush() }
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

  def main(args: Array[String]): Unit = {
    val Array(workload, work, out, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    trace = new Trace(traceArg == "1")
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.install(spark)
    emit(s"""{"event":"session_ready"}""")
    try workload match {
      case "lake_build" => lakeBuild(spark, work, out, seconds)
      case "curation" => curation(spark, work, out, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      trace.write(spark, s"$out/trace.jsonl")
      spark.stop()
    }
  }

  /** Starts `pass` again while less than `seconds` have gone by; at least once. */
  private def measure(seconds: Double)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || ms(t0) / 1e3 < seconds) {
      pass(i)
      i += 1
    }
  }

  private def refdata(spark: SparkSession, work: String) = (
    spark.read.parquet(s"$work/refdata/security_master.parquet"),
    spark.read.parquet(s"$work/refdata/splits.parquet"),
    spark.read.parquet(s"$work/refdata/dividends.parquet"))

  /** AdjustPipeline's shape: adjusted lake partitioned ticker/year/month. */
  private def buildAdjusted(spark: SparkSession, work: String, raw: String, adjLake: String): Unit = {
    val (sm, splits, divs) = refdata(spark, work)
    val bars = trace.span("lake.open")(LakeReader.read(spark, raw))
    Adjuster.buildAdjusted(bars, sm, splits, divs, Adjuster.MaterializeClose)
      .withColumn("year", year(col("datetime")))
      .withColumn("month", month(col("datetime")))
      .repartition(col("ticker"), col("year"), col("month"))
      .sortWithinPartitions(col("datetime"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("ticker", "year", "month")
      .parquet(adjLake)
  }

  // ---- lake_build: drop -> raw lake -> manifest -> adjusted lake ->
  // audit -> Series QA invariants, repeated over the same drop ---------
  private def lakeBuild(spark: SparkSession, work: String, out: String, seconds: Double): Unit = {
    val raw = s"$out/raw"
    val adjLake = s"$out/adjusted"
    val (_, splits, divs) = refdata(spark, work)
    def pass(i: Int): Unit = {
      val t0 = System.nanoTime()
      val res = try {
        trace.span("build", i) {
          trace.span("ingest.ingest")(
            BarsIngest.ingest(spark, s"$work/drops/*.csv.gz", raw, "minute"))
          trace.span("ingest.manifest")(
            BarsIngest.writeManifest(spark, raw, s"$out/manifest"))
          trace.span("adjust.build")(buildAdjusted(spark, work, raw, adjLake))
          val written = spark.read.parquet(adjLake)
          val audit = trace.span("adjust.audit")(
            Adjuster.auditSummary(written, splits, divs)
              .select("id", "ticker", "n_days", "used_fallback").collect())
          val (jumps, corr) = trace.span("query.qa") {
            val series = Series.loadSeries(
              trace.span("lake.open")(LakeReader.read(spark, raw)),
              written, "minute")
            (Series.splitPiecewiseJumps(series).collect(),
              Series.returnCorrelation(series).collect())
          }
          Some((audit, jumps, corr))
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] build $i failed: $e"); None
      }
      val dt = ms(t0)
      spark.catalog.clearCache()
      System.gc()
      val body = res.fold("") { case (audit, jumps, corr) =>
        "," + s""""audit":[${audit.map(r => s"[${q(r.getString(0))},${q(r.getString(1))},${r.getLong(2)},${r.getBoolean(3)}]").mkString(",")}],""" +
          s""""jumps":{${jumps.map(r => s"${q(r.getString(0))}:${r.getLong(1)}").mkString(",")}},""" +
          s""""corr":{${corr.map(r => s"${q(r.getString(0))}:${if (r.isNullAt(1)) "null" else r.getDouble(1).toString}").mkString(",")}}"""
      }
      emit(s"""{"op":"build","i":$i,"timed":true,"ok":${res.isDefined},"ms":$dt$body}""")
    }
    // Builds are batch jobs: each one a user runs pays the JVM's cold
    // start, so nothing is warmed before the first timed build.
    setupDone()
    measure(seconds)(pass)
    trace.mark("end")
  }

  // ---- curation: the shipped training-data composites -------------------
  /** The training-data rows, one per layer: the frozen text fits plus
    * streaming admission (qst23), SQ8 ANN serving (qs28), MinHash LSH
    * near-duplicate detection with the hot-bucket cap (qd12). */
  val CurationRows = Seq("qst23_stream_admission", "qs28_sq8_ann", "qd12_minhash_capped")

  private def curation(spark: SparkSession, work: String, out: String, seconds: Double): Unit = {
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val oj = CurationRows.map(r => s"${q(r)}:${q(oracles(r))}").mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"), oj.getBytes("UTF-8"))
    def pass(corpus: String, sink: String, timed: Boolean)(i: Int): Unit = CurationRows.foreach { r =>
      val t0 = System.nanoTime()
      val ok = try {
        trace.span(s"queries.$r", i) {
          val df = trace.span("queries.eager")(fns(r)(spark, corpus))
          trace.span("queries.action")(
            df.write.mode(SaveMode.Overwrite).parquet(s"$sink/$r"))
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $r failed: $e"); false
      }
      val dt = ms(t0)
      spark.catalog.clearCache()
      System.gc()
      emit(s"""{"op":${q(r)},"i":$i,"timed":$timed,"ok":$ok,"ms":$dt}""")
    }
    // A curation session runs these rows again and again, so passes are
    // timed warm: set-up runs one pass over the small warm-up corpus,
    // which pays the JVM's cold start (class loading, JIT).
    pass(s"$work/warmup", s"$out/warmup", timed = false)(-1)
    setupDone()
    measure(seconds)(pass(work, out, timed = true))
    trace.mark("end")
  }
}
