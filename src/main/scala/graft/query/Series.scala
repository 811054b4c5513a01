package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query-side joins + QA invariants — the `load_series` equivalent
  * (reference: src/polygon_ingest/lake_io.py:479-522) and the notebook
  * sanity checks (notebooks/03_load_data_inspect_adjustment.ipynb).
  */
object Series {

  /** Accept both naming generations of adjusted lakes: `*_split` written
    * by old runs is exposed as `*_sa` (lake_io.py:491-497).
    */
  def normalizeAdjustedNames(adj: DataFrame): DataFrame = {
    val renames = adj.columns.collect {
      case c if c.endsWith("_split") && c != "volume_split" =>
        c -> (c.stripSuffix("_split") + "_sa")
      case "volume_split" => "volume_split" -> "volume_sa"
    }
    renames.foldLeft(adj) { case (d, (from, to)) =>
      if (d.columns.contains(to)) d else d.withColumnRenamed(from, to) }
  }

  /** The timeframe of a bar lake read from its root: minute lakes carry
    * the `day` partition column ([[graft.ingest.BarsIngest]]), day lakes
    * stop at `month`.
    */
  def timeframeOf(lake: DataFrame): String =
    if (lake.columns.contains("day")) "minute" else "day"

  /** Join unadjusted × adjusted series for QA: day granularity joins on
    * the calendar date (lake_io.py:500-506), minute on the exact
    * timestamp (:509-511).
    */
  def loadSeries(unadj: DataFrame, adj: DataFrame, timeframe: String): DataFrame = {
    val a = normalizeAdjustedNames(adj)
      .select(col("datetime").as("adt"), col("ticker").as("aticker"),
        col("close_sa"), col("close_tr"))
    val cond = timeframe match {
      case "day" => to_date(col("datetime")) === to_date(col("adt")) &&
        col("ticker") === col("aticker")
      case "minute" => col("datetime") === col("adt") &&
        col("ticker") === col("aticker")
      case other => throw new IllegalArgumentException(s"bad timeframe $other")
    }
    unadj.join(a, cond, "left").drop("adt", "aticker")
  }

  /** Split invariant (notebook 03 cell 14): close/close_sa must be
    * piecewise-constant — count the jumps of the rounded ratio per
    * ticker; must equal the number of aligned split days.
    */
  def splitPiecewiseJumps(series: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("datetime"))
    series
      .withColumn("ratio", round(col("close") / col("close_sa"), 6))
      .withColumn("prev", lag(col("ratio"), 1).over(w))
      .filter(col("prev").isNotNull && col("ratio") =!= col("prev"))
      .groupBy(col("ticker")).agg(count(lit(1)).as("n_jumps"))
  }

  /** TR invariant (notebook 03 cell 14): correlation of daily returns of
    * close_sa vs close_tr should be ~1 off ex-dates.
    */
  def returnCorrelation(series: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("datetime"))
    series
      .withColumn("ret_sa", col("close_sa") / lag(col("close_sa"), 1).over(w) - 1)
      .withColumn("ret_tr", col("close_tr") / lag(col("close_tr"), 1).over(w) - 1)
      .groupBy(col("ticker"))
      .agg(corr(col("ret_sa"), col("ret_tr")).as("corr_ret_sa_vs_tr"))
  }

  /** Base-100 normalization for overlay plots (notebook 03 cell 10). */
  def base100(series: DataFrame, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("datetime"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    series.withColumn(s"${valueCol}_b100",
      lit(100.0) * col(valueCol) / first(col(valueCol)).over(w))
  }
}
