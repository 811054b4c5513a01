package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.lake.{Export, LakeReader}

/** Query-side CLI — the `load_polygonio_lake` command-line equivalent
  * (reference: src/polygon_ingest/lake_io.py:346-409): universe +
  * time-range + column-projected read of a bar lake, exported by
  * suffix.
  *
  * Usage:
  *   runMain graft.QueryCli <lakeRoot> <out.(csv|json|parquet)>
  *     [--tickers A,B,C] [--start YYYY-MM-DD[ HH:MM:SS]]
  *     [--end YYYY-MM-DD[ HH:MM:SS]] [--columns c1,c2] [--limit N]
  *
  * A date-only --end bound is expanded to end-of-day, matching the
  * reference's inclusive whole-day semantics (lake_io.py:170-178).
  */
object QueryCli {

  private def parseTs(s: String): Timestamp =
    if (s.length == 10) Timestamp.valueOf(s + " 00:00:00")
    else Timestamp.valueOf(s)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryCli <lakeRoot> <out> [flags]")
    val lakeRoot = args(0)
    val out = args(1)
    val flags = args.drop(2).sliding(2, 2).collect {
      case Array(k, v) => k -> v
    }.toMap

    val spark = Session.local("graft-query", SparkEntry.cpus())
    spark.sparkContext.setLogLevel("WARN")

    val endRaw = flags.get("--end")
    var df = LakeReader.read(
      spark, lakeRoot,
      tickers = flags.get("--tickers").map(_.split(",").toSeq).getOrElse(Nil),
      start = flags.get("--start").map(parseTs),
      end = endRaw.map(parseTs),
      endIsDateOnly = endRaw.exists(_.length == 10),
      columns = flags.get("--columns").map(_.split(",").toSeq).getOrElse(Nil))
    df = df.orderBy(col("ticker"), col("datetime"))
    flags.get("--limit").foreach(n => df = df.limit(n.toInt))
    Export.write(df, out)
    println(s"[query] wrote ${spark.read.format(
      if (out.toLowerCase.endsWith(".csv")) "csv" else
        if (out.toLowerCase.endsWith(".json")) "json" else "parquet")
      .option("header", "true").load(out).count()} rows -> $out")
    spark.stop()
  }
}
