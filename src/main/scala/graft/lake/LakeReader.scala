package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.FileBridge

/** Query-side lake loader — the `load_polygonio_lake` equivalent
  * (reference: src/polygon_ingest/lake_io.py:216-337). The reference's
  * manifest-interval file selection + threaded reads (lake_io.py:108-147,
  * 283-304) are replaced by partition pruning (ticker/year/month[/day]
  * hive columns) plus parquet row-group min/max pushdown on `datetime`:
  * the same pruning, chosen by Catalyst from the filter alone. Pushdown
  * skips row groups only in files whose `datetime` is INT64
  * (`TIMESTAMP_MICROS`, as [[graft.ingest.BarsIngest.ingest]] writes
  * it); parquet keeps no min/max for INT96, so such files are read
  * whole and filtered.
  */
object LakeReader {

  /** Inclusive time-range + universe read.
    *
    * Bound semantics mirror lake_io.py:170-178: bounds are inclusive,
    * and a date-only end bound means "through end of that day" — pass
    * `endIsDateOnly = true` for the reference's
    * `end.normalize()+1d-1ns` whole-day expansion.
    */
  def read(
      spark: SparkSession,
      lakeRoot: String,
      tickers: Seq[String] = Nil,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      endIsDateOnly: Boolean = false,
      columns: Seq[String] = Nil): DataFrame = {
    var df = open(spark, lakeRoot)
    if (tickers.nonEmpty)
      df = df.filter(col("ticker").isin(tickers.map(_.toUpperCase): _*))
    // Partition-level prune first (year/month are partition columns →
    // directory pruning), then the row-level datetime filter (parquet
    // footer stats prune row groups).
    start.foreach { s =>
      val sd = new Timestamp(s.getTime)
      df = df.filter(
        (col("year") > year(lit(sd))) ||
          (col("year") === year(lit(sd)) && col("month") >= month(lit(sd))))
      df = df.filter(col("datetime") >= lit(sd))
    }
    end.foreach { e =>
      val eEff = if (endIsDateOnly)
        new Timestamp(e.getTime + 24L * 3600 * 1000 - 1) else e
      df = df.filter(
        (col("year") < year(lit(eEff))) ||
          (col("year") === year(lit(eEff)) && col("month") <= month(lit(eEff))))
      df = df.filter(col("datetime") <= lit(eEff))
    }
    if (columns.nonEmpty) {
      val want = (Seq("datetime", "ticker") ++ columns).distinct
      val have = df.columns.toSet
      // Schema-safe projection (lake_io.py:440-476): requested columns
      // missing from this lake come back as nulls instead of failing.
      df = df.select(want.map(c =>
        if (have.contains(c)) col(c) else lit(null).as(c)): _*)
    }
    df
  }

  /** The lake at `lakeRoot`, equal to `spark.read.parquet(lakeRoot)`,
    * with its metadata work on the driver: one listing, which starts no
    * job on a local root, and the data schema from one footer (see
    * [[org.apache.spark.sql.graftbridge.FileBridge]]). A root the
    * driver listing does not cover (glob, streaming sink log, nothing
    * listed) goes through `spark.read.parquet` itself.
    */
  def open(spark: SparkSession, lakeRoot: String): DataFrame =
    FileBridge.fileIndex(spark, Seq(lakeRoot), Map.empty)
      .fold(spark.read.parquet(lakeRoot))(FileBridge.parquetFrame(spark, _))
}
