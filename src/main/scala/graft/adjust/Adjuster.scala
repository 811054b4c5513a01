package graft.adjust

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Factor application + materialization — builds the adjusted lake from
  * raw bars and refdata dims (reference pipeline stages 3-10,
  * legacy_scripts/factor_builder.py:1125-1166; column policy :466-476).
  */
object Adjuster {

  /** Materialization policies (factor_builder.py:466-476). */
  val MaterializeMinimal = "minimal"
  val MaterializeClose = "close"
  val MaterializeOhlc = "ohlc"

  /** Full adjusted build: day grid → identity attach → factor kernel
    * ([[Factors.factorTable]]) → split and total-return application per
    * bar → select by policy. Bars sharing (ticker, datetime) collapse to
    * one row (which one is unspecified).
    *
    * Plan shape: the bars are hash-partitioned by (ticker, event_day),
    * and the duplicate drop and the join back to the factor table reuse
    * that distribution. The day-grid aggregate reads the bars through a
    * second copy of that repartition: its exchange carries fewer
    * columns and an inferred `isnotnull(datetime)`, so exchange reuse
    * cannot match the two, and the raw lake is scanned and the bar
    * history shuffled twice. Everything after the grid runs on the day
    * grid.
    */
  def buildAdjusted(
      bars: DataFrame,
      securityMaster: DataFrame,
      splits: DataFrame,
      dividends: DataFrame,
      materialize: String = MaterializeClose,
      detectGaps: Boolean = false,
      debugDump: Option[String] = None): DataFrame =
    materializeColumns(
      adjust(bars, securityMaster, splits, dividends, detectGaps, debugDump = debugDump),
      materialize)

  /** [[buildAdjusted]] before the column policy: every bar column plus
    * event_day, id and the three factors (1.0 where none applies).
    * `exact` switches both running products to the exact
    * left-to-right fold (the oracle-compared queries use it).
    */
  private[graft] def adjust(
      bars: DataFrame,
      securityMaster: DataFrame,
      splits: DataFrame,
      dividends: DataFrame,
      detectGaps: Boolean = false,
      exact: Boolean = false,
      debugDump: Option[String] = None): DataFrame = {
    // debugDump (reference --debug-dump, factor_builder.py:1091-1115):
    // drop the pipeline intermediates — _id_days, _edges, _split_F,
    // _div_G — as CSV next to the build for factor forensics
    def dump(df: DataFrame, name: String): Unit = debugDump.foreach { dir =>
      graft.lake.Export.write(df, s"$dir/$name.csv")
    }
    val dated = bars.withColumn("event_day", to_date(col("datetime")))
      .repartition(col("ticker"), col("event_day"))
      .dropDuplicates("ticker", "event_day", "datetime")
    val idGrid = Factors.attachId(Factors.dayGrid(dated), securityMaster)
    dump(idGrid.select(col("id"), col("ticker"), col("event_day")), "_id_days")
    // detectGaps (reference CLI default for minute streaming, disabled
    // by --no-detect-split-gaps): overnight price gaps that round to a
    // clean split ratio recover splits missing/mis-dated in refdata
    val grid = if (detectGaps) Factors.gapGuesses(idGrid) else idGrid
    if (detectGaps) dump(grid, "_edges")
    val factors = Factors.factorTable(grid, splits, dividends, exact)
    dump(factors.select(col("id"), col("event_day"), col("split_price_factor"),
      col("split_volume_factor")), "_split_F")
    dump(factors.select(col("id"), col("event_day"), col("tr_price_factor")), "_div_G")
    dated
      .join(factors, Seq("ticker", "event_day"), "left")
      .withColumn("split_price_factor", coalesce(col("split_price_factor"), lit(1.0)))
      .withColumn("split_volume_factor", coalesce(col("split_volume_factor"), lit(1.0)))
      .withColumn("tr_price_factor", coalesce(col("tr_price_factor"), lit(1.0)))
  }

  /** Column policy over the factor-joined bars of [[adjust]]: minimal
    * (adjusted close/volume) / close (adds factors) / ohlc (adds
    * adjusted open/high/low).
    */
  def materializeColumns(adjusted: DataFrame, policy: String): DataFrame = {
    val closeSplit = col("close") * col("split_price_factor")
    val minimal = Seq(
      col("datetime"), col("ticker"), col("id"), col("event_day"),
      col("close"), col("volume"),
      closeSplit.as("close_split"),
      (col("volume") * col("split_volume_factor")).cast("double").as("volume_split"),
      (closeSplit * col("tr_price_factor")).as("close_tr"))
    val factors = Seq(col("split_price_factor"), col("split_volume_factor"),
      col("tr_price_factor"))
    policy match {
      case MaterializeMinimal => adjusted.select(minimal: _*)
      case MaterializeClose => adjusted.select(minimal ++ factors: _*)
      case MaterializeOhlc =>
        val extra = Seq("open", "high", "low").flatMap { c =>
          Seq((col(c) * col("split_price_factor")).as(s"${c}_split"),
            (col(c) * col("split_price_factor") * col("tr_price_factor")).as(s"${c}_tr"))
        }
        adjusted.select(minimal ++ factors ++ extra: _*)
      case other => throw new IllegalArgumentException(s"unknown materialize policy: $other")
    }
  }

  /** Per-id audit summary (factor_builder.py:568-643 `_write_summary_csv`
    * / `_event_summary`): trading days, span, last bar timestamp,
    * cumulative split ratio (volume factor of the first day = total
    * forward split product), and the per-family event stats of
    * [[Factors.eventStats]] — the same selection and alignment the
    * factor kernel runs, over the adjusted lake's (id, ticker,
    * event_day) grid. `used_fallback` ORs the two families (:596).
    */
  def auditSummary(adjusted: DataFrame, splits: DataFrame,
      dividends: DataFrame): DataFrame = {
    val perId = adjusted.groupBy(col("id"), col("ticker")).agg(
      countDistinct(col("event_day")).as("n_days"),
      min(col("event_day")).as("first_day"),
      max(col("event_day")).as("last_day"),
      max(col("datetime")).as("last_datetime"),
      max_by(col("split_volume_factor"), col("datetime")).as("last_svf"),
      min_by(col("split_volume_factor"), col("datetime")).as("first_svf"))
    val stats = Factors.eventStats(
      adjusted.select(col("id"), col("ticker"), col("event_day")).distinct(),
      splits, dividends)
    perId
      .join(broadcast(stats), Seq("id"), "left")
      .withColumn("cum_split_ratio", col("first_svf") / col("last_svf"))
      .withColumn("used_fallback",
        col("split_used_fallback") || col("dividend_used_fallback"))
      .drop("first_svf", "last_svf", "split_used_fallback", "dividend_used_fallback")
  }
}
