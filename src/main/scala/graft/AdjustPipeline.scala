package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.adjust.Adjuster
import graft.ingest.BarsIngest
import graft.lake.LakeReader
import graft.query.Series

/** End-to-end adjusted-lake pipeline main — the `build_adjusted_lake.sh`
  * equivalent (reference: scripts/build_adjusted_lake.sh →
  * factor_builder.main): raw bar lake + refdata parquet dims → adjusted
  * lake + audit summary.
  *
  * Usage: runMain graft.AdjustPipeline <barsLakeRoot> <refdataDir> <outRoot>
  *   refdataDir must hold security_master.parquet, splits.parquet and
  *   dividends.parquet — all three files must exist (zero-row contents
  *   are fine); a missing file fails fast with PATH_NOT_FOUND.
  * Prints row counts and the per-id audit table.
  */
object AdjustPipeline {
  def main(args: Array[String]): Unit = {
    val Array(lakeRoot, refdataDir, outRoot) = args
    val spark = Session.local("graft-adjust", SparkEntry.cpus())
    spark.sparkContext.setLogLevel("WARN")

    val bars = LakeReader.read(spark, lakeRoot)
    val sm = spark.read.parquet(s"$refdataDir/security_master.parquet")
    val splits = spark.read.parquet(s"$refdataDir/splits.parquet")
    val dividends = spark.read.parquet(s"$refdataDir/dividends.parquet")

    val adjusted = Adjuster.buildAdjusted(bars, sm, splits, dividends,
      Adjuster.MaterializeClose)
    adjusted
      .withColumn("year", year(col("datetime")))
      .withColumn("month", month(col("datetime")))
      .repartition(col("ticker"), col("year"), col("month"))
      .sortWithinPartitions(col("datetime"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("ticker", "year", "month")
      .parquet(s"$outRoot/adjusted")

    val written = spark.read.parquet(s"$outRoot/adjusted")
    println(s"adjusted rows: ${written.count()}")
    Adjuster.auditSummary(written, splits, dividends)
      .orderBy(col("ticker"))
      .show(50, truncate = false)

    // QA invariants from the reference notebook: split piecewise jumps +
    // SA/TR return correlation, joined at the raw lake's own timeframe
    val series = Series.loadSeries(bars, written, Series.timeframeOf(bars))
    Series.splitPiecewiseJumps(series).show(20, truncate = false)
    Series.returnCorrelation(series).show(20, truncate = false)
    spark.stop()
  }
}
