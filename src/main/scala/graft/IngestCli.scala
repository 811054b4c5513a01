package graft


import graft.ingest.BarsIngest

/** Flat-file ingest main — the `poly bars` equivalent (reference:
  * src/polygon_ingest/cli.py:9-28).
  *
  * Usage: runMain graft.IngestCli <csvGlob> <lakeRoot> [day|minute] [TICKER...]
  *   trailing tickers form the watchlist filter.
  */
object IngestCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IngestCli <csvGlob> <lakeRoot> [day|minute] [TICKER...]")
    val csvGlob = args(0)
    val lakeRoot = args(1)
    val timeframe = if (args.length >= 3) args(2) else "day"
    val watchlist = args.drop(3).toSeq
    val spark = Session.local("graft-ingest", SparkEntry.cpus())
    spark.sparkContext.setLogLevel("WARN")
    BarsIngest.ingest(spark, csvGlob, lakeRoot, timeframe, watchlist)
    val n = spark.read.parquet(lakeRoot).count()
    println(s"ingested rows: $n -> $lakeRoot")
    BarsIngest.writeManifest(spark, lakeRoot, s"$lakeRoot/_manifest")
    println(s"manifest written: $lakeRoot/_manifest")
    spark.stop()
  }
}
