package graft.adjust

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Split / total-return factor construction — the analytic core of the
  * reference (legacy_scripts/factor_builder.py). The reference fans out
  * one worker per security id over that security's day series, with the
  * dimension tables broadcast through pool-initializer globals
  * (factor_builder.py:21-27,355-412). Here the same shape is one
  * `groupByKey(id)` pass over the (ticker, event_day) day grid — a few
  * rows per trading day, never the bar history — with the split and
  * dividend tables riding a broadcast: one stage for all of the factor
  * math, distributed across ids.
  *
  * Semantics preserved (SURVEY.md §7.4 watch list):
  *  - per-id-group event selection: events whose event_id
  *    (composite_figi, else NOFIGI__ticker) equals the id, and only when
  *    there are none, all events of the group's ticker
  *    (factor_builder.py:247-251,307-311);
  *  - forward as-of event alignment, exact matches allowed, events after
  *    the last trading day dropped (factor_builder.py:261-267,320-326);
  *  - same-day multi-events multiply BEFORE the cumulative product
  *    (factor_builder.py:269,328);
  *  - anchor-to-last: factors are divided by their final value so the
  *    adjusted series equals the raw series on the latest bar
  *    (factor_builder.py:273-276,335-336);
  *  - TR day factor g = (prior_base - amount)/prior_base, masked to
  *    amount AND prior present AND prior > 0, g may be <= 0
  *    (factor_builder.py:331-333) — handled by the sign-safe product.
  *
  * The float math is the op sequence the SQL forms of these steps run,
  * so the factors are bit-identical to them: `StrictMath` log/exp (what
  * Spark's `log`/`exp` call), running sums and products in day order,
  * same-day ratios multiplied in ascending order from 1.0, same-day cash
  * summed in the column's own type (exactly for decimals), comparisons
  * with Spark SQL's NaN ordering, and division by zero failing under
  * ANSI mode and yielding null (factor 1.0) without it.
  */
object Factors {

  val NoFigiPrefix = "NOFIGI__"

  /** (ticker, event_day) day grid of bars that carry `event_day`: the
    * day's first and last close (as double) and its last bar time — the
    * edges the gap detection reads (factor_builder.py:727-744
    * `_scan_day_edges`) and the dividend base.
    */
  def dayGrid(bars: DataFrame): DataFrame =
    bars.groupBy(col("ticker"), col("event_day")).agg(
      min_by(col("close"), col("datetime")).cast("double").as("first_close"),
      max_by(col("close"), col("datetime")).cast("double").as("last_close"),
      max(col("datetime")).as("last_time"))

  /** Point-in-time identity attach on the day grid
    * (factor_builder.py:148-180): for each (ticker, event_day) pick the
    * security-master row whose validity window [effective_start,
    * effective_end] contains the day — NULL end = open window —
    * preferring in-window rows, then the latest effective_start, then
    * the smallest composite_figi (a fixed pick among equal windows); id
    * falls back to NOFIGI__ticker when no in-window FIGI exists.
    */
  def attachId(grid: DataFrame, securityMaster: DataFrame): DataFrame = {
    val sm = broadcast(securityMaster.select(
      col("ticker").as("sm_ticker"), col("composite_figi"),
      col("effective_start"), col("effective_end")))
    val joined = grid.join(sm, grid("ticker") === sm("sm_ticker"), "left")
      .withColumn("in_window",
        (col("effective_start").isNull || col("event_day") >= col("effective_start")) &&
          (col("effective_end").isNull || col("event_day") <= col("effective_end")))
    val w = Window.partitionBy(col("ticker"), col("event_day"))
      .orderBy(col("in_window").desc, col("effective_start").desc_nulls_last,
        col("composite_figi"))
    joined
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .withColumn("id",
        when(col("in_window") && col("composite_figi").isNotNull, col("composite_figi"))
          .otherwise(concat(lit(NoFigiPrefix), col("ticker"))))
      .drop("sm_ticker", "effective_start", "effective_end", "in_window", "__rk",
        "composite_figi")
  }

  /** Raw-gap split guesses on the day grid (factor_builder.py:727-753):
    * `prev_last` is the prior trading day's last close within the
    * TICKER, not the id (reference parity: the reference scans
    * per-ticker files, so a split landing exactly on an id/FIGI
    * validity boundary still produces a detectable gap), `raw_gap` the
    * day's first close over it, `guess` its [[splitGapGuess]]. A grid
    * carrying `guess` switches on the gap override in [[factorTable]].
    */
  def gapGuesses(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("event_day"))
    grid
      .withColumn("prev_last", lag(col("last_close"), 1).over(w))
      .withColumn("raw_gap", col("first_close") / col("prev_last"))
      .withColumn("guess", splitGapGuess(col("raw_gap")))
  }

  /** Split-ratio guess from a raw price gap (factor_builder.py:746-753
    * `_guess`): nearest of {2,3,4,5,10,20} to the gap (inverted when
    * < 1), accepted within 15% relative error; null otherwise
    * (non-positive / null / NaN gaps never match the comparisons).
    */
  def splitGapGuess(gap: Column): Column = {
    val cands = array(Seq(2.0, 3.0, 4.0, 5.0, 10.0, 20.0).map(lit): _*)
    val g2 = when(gap < 1.0, lit(1.0) / gap).otherwise(gap)
    // argmin by (|g2-c|, c): sort [err, cand] pairs lexicographically
    val best = element_at(array_sort(transform(cands, c => array(abs(g2 - c), c))), 1)
    when(gap.isNotNull && gap > 0.0 &&
      element_at(best, 1) / element_at(best, 2) <= 0.15, element_at(best, 2))
  }

  /** The factor table: one row per row of `grid` — (ticker, event_day)
    * with its `id` ([[attachId]]), `last_close` and `last_time`
    * ([[dayGrid]]), and optionally `guess` ([[gapGuesses]]) — carrying
    * split_price_factor = F / F_last, split_volume_factor = F_last / F
    * and tr_price_factor = G / G_last, per id and trading day. F runs
    * over the day split ratios (after the gap override when the grid has
    * guesses), G over the day TR factors; `exact` makes both the
    * left-to-right product instead of the log-sum. The dividend base is
    * the split-adjusted close of the id's last bar of the day, across
    * tickers (factor_builder.py:297-299,707-725), so an id carrying two
    * tickers on one day still has one factor per trading day.
    */
  def factorTable(grid: DataFrame, splits: DataFrame, dividends: DataFrame,
      exact: Boolean = false): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val fams = families(splits, dividends)
    val ansi = spark.sessionState.conf.ansiEnabled
    byId(grid)
      .flatMapGroups { (id, rows) =>
        val (sf, df) = fams.value
        factorsOf(id, rows.toArray, sf, df, exact, ansi)
      }
      .toDF()
  }

  /** Per-id event audit over an (id, ticker, event_day) grid — the
    * selection and alignment [[factorTable]] runs, as counts
    * (factor_builder.py:568-643 `_event_summary`):
    *  - `split_events_aligned`: aligned days whose refdata ratio product
    *    != 1 (factor_builder.py:280); `split_cum_ratio` their product;
    *  - `dividend_event_days`: aligned days with positive cash;
    *    `total_cash` the aligned cash (:341-342);
    *  - `last_*_aligned_day`: the trading day the last event snapped to;
    *  - `last_*_raw_date`: the max date over the id's SELECTED events,
    *    before alignment, so a post-last-day event still counts
    *    (:282,343);
    *  - `*_used_fallback`: the family selected by ticker — including
    *    groups with no events at all, where the fallback branch runs and
    *    comes up empty too (:248-250,308-310).
    */
  def eventStats(days: DataFrame, splits: DataFrame, dividends: DataFrame): DataFrame = {
    val spark = days.sparkSession
    import spark.implicits._
    val fams = families(splits, dividends)
    byId(days)
      .mapGroups { (id, rows) =>
        val (sf, df) = fams.value
        statsOf(id, rows.toArray, sf, df)
      }
      .toDF()
  }

  // ---- the kernel ---------------------------------------------------------

  /** The grid's rows grouped by id; the factor columns are optional. */
  private def byId(grid: DataFrame) = {
    val spark = grid.sparkSession
    import spark.implicits._
    def opt(c: String, t: String) = if (grid.columns.contains(c)) col(c) else lit(null).cast(t)
    grid
      .filter(col("event_day").isNotNull)
      .select(col("id"), col("ticker"), unix_date(col("event_day")).as("day"),
        opt("last_close", "double").as("lastClose"),
        coalesce(unix_micros(opt("last_time", "timestamp")), lit(0L)).as("lastTime"),
        opt("guess", "double").as("guess"))
      .as[GridDay]
      .groupByKey(_.id)
  }

  /** Both event families, collected once and broadcast. */
  private def families(splits: DataFrame, dividends: DataFrame) =
    splits.sparkSession.sparkContext.broadcast((
      family(splits, "execution_date", "ratio", keepDecimal = false),
      family(dividends, "ex_date", "cash_amount", keepDecimal = true)))

  /** One day-grid row as the kernel reads it: the day as epoch days, the
    * last bar time as epoch micros.
    */
  private[adjust] final case class GridDay(id: String, ticker: String, day: Int,
      lastClose: Option[Double], lastTime: Long, guess: Option[Double])

  // the kernel's outputs, fields named as the output columns
  private[adjust] final case class DayFactors(ticker: String, event_day: LocalDate,
      id: String, split_price_factor: Option[Double], split_volume_factor: Option[Double],
      tr_price_factor: Option[Double])

  private[adjust] final case class EventStats(id: String,
      split_events_aligned: Long, split_cum_ratio: Double,
      last_split_aligned_day: Option[LocalDate],
      dividend_event_days: Long, total_cash: Double,
      last_dividend_aligned_day: Option[LocalDate],
      last_split_raw_date: Option[LocalDate], last_dividend_raw_date: Option[LocalDate],
      split_used_fallback: Boolean, dividend_used_fallback: Boolean)

  /** A refdata event: `value` is a split ratio (double) or a cash amount
    * (java.math.BigDecimal for decimal columns, else double).
    */
  private[adjust] final case class Event(ticker: String, eventId: String, day: Int, value: Any)

  /** One event family, indexed for per-group selection. */
  private[adjust] final class Family(events: Array[Event]) extends Serializable {
    private val byId = events.groupBy(_.eventId)
    private val byTicker = events.groupBy(_.ticker)

    /** (selected events, used_fallback): the id's own events, else all
      * events of the group ticker — all-or-nothing per group, decided
      * BEFORE alignment (a direct event that later fails to snap does
      * not re-trigger the fallback), so one event can serve several
      * groups.
      */
    def select(id: String, groupTicker: String): (Array[Event], Boolean) =
      byId.get(id) match {
        case Some(ev) => (ev, false)
        case None => (byTicker.getOrElse(groupTicker, Array.empty[Event]), true)
      }
  }

  /** Collects an event table to the driver. `ticker` must already be
    * canonical — the reference normalizes every ticker with
    * strip().upper() on load (factor_builder.py:203,225); this engine
    * does that once at ingest ([[graft.source.Normalize]]). Rows with a
    * null date or payload are dropped like the reference's
    * post-selection `.dropna()`; composite_figi may be absent
    * (factor_builder.py:204-208). Payloads become doubles, except
    * decimals with `keepDecimal`.
    */
  private def family(events: DataFrame, dateCol: String, payload: String,
      keepDecimal: Boolean): Family = {
    val figi =
      if (events.columns.contains("composite_figi")) col("composite_figi")
      else lit(null).cast("string")
    val value = events.schema(payload).dataType match {
      case _: DecimalType if keepDecimal => col(payload)
      case _ => col(payload).cast("double")
    }
    val rows = events.na.drop("any", Seq(dateCol, payload))
      .select(col("ticker"), coalesce(figi, concat(lit(NoFigiPrefix), col("ticker"))),
        unix_date(to_date(col(dateCol))).as("__day"), value)
      .filter(col("__day").isNotNull)
      .collect()
    new Family(rows.map(r => Event(r.getString(0), r.getString(1), r.getInt(2), r.get(3))))
  }

  /** An id group's trading days, ascending, and its ticker: the FIRST
    * trading day's (`gpx["ticker"].iloc[0]`, factor_builder.py:247,307).
    */
  private def daysOf(rows: Array[GridDay]): (Array[Int], String) = {
    val days = rows.map(_.day).distinct.sorted
    (days, rows.filter(_.day == days(0)).map(_.ticker).min)
  }

  /** Forward snap onto the group's days: index of the first day >= the
    * event day, None after the last day.
    */
  private def snap(days: Array[Int], day: Int): Option[Int] = {
    val i = java.util.Arrays.binarySearch(days, day)
    val j = if (i >= 0) i else -i - 1
    if (j < days.length) Some(j) else None
  }

  /** Selected events of one family aligned to day indexes. */
  private def aligned(fam: Family, id: String, days: Array[Int],
      groupTicker: String): (Map[Int, Array[Event]], Array[Event], Boolean) = {
    val (sel, fallback) = fam.select(id, groupTicker)
    val byDay = sel.flatMap(e => snap(days, e.day).map(_ -> e))
      .groupBy(_._1).map { case (i, es) => i -> es.map(_._2) }
    (byDay, sel, fallback)
  }

  /** Same-day ratio product: ascending ratios multiplied from 1.0. */
  private def ratioProduct(es: Array[Event]): Double = {
    val rs = es.map(_.value.asInstanceOf[Double])
    java.util.Arrays.sort(rs)
    rs.foldLeft(1.0)(_ * _)
  }

  /** Same-day cash in the column's own type: exact for decimals. */
  private def cashSum(xs: Iterable[Any]): Any = xs.head match {
    case _: java.math.BigDecimal =>
      xs.map(_.asInstanceOf[java.math.BigDecimal]).reduce(_ add _)
    case _ =>
      val ds = xs.map(_.asInstanceOf[Double]).toArray
      java.util.Arrays.sort(ds)
      ds.foldLeft(0.0)(_ + _)
  }

  private def cashDouble(x: Any): Double = x match {
    case d: java.math.BigDecimal => d.doubleValue
    case d => d.asInstanceOf[Double]
  }

  /** `a > 0` in Spark SQL's double ordering, where NaN sorts above all. */
  private def positive(a: Double): Boolean = a > 0.0 || a.isNaN

  /** Spark's double division: null operands give null, zero divisors
    * fail under ANSI mode and give null without it.
    */
  private def div(a: Option[Double], b: Option[Double], ansi: Boolean): Option[Double] =
    (a, b) match {
      case (Some(_), Some(y)) if y == 0.0 =>
        if (ansi) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
        else None
      case (Some(x), Some(y)) => Some(x / y)
      case _ => None
    }

  /** Running product of `xs`: the exact left-to-right product from 1.0,
    * or exp of the running sum of logs (Spark's `log` is null at x <= 0,
    * and a sum of no values is null), made sign-safe with `signed`: zero
    * once a zero is seen, sign from the parity of negatives.
    */
  private def runningProduct(xs: Array[Double], exact: Boolean,
      signed: Boolean): Array[Option[Double]] = {
    var prod = 1.0
    var logSum: Option[Double] = None
    var zero = false
    var negatives = 0
    xs.map { x =>
      val m = if (signed) math.abs(x) else x
      prod *= x
      if (!(m <= 0.0)) logSum = Some(logSum.getOrElse(0.0) + StrictMath.log(m))
      zero ||= signed && x == 0.0
      if (signed && x < 0.0) negatives += 1
      if (exact) Some(prod)
      else if (zero) Some(0.0)
      else logSum.map(v => (if (negatives % 2 == 0) 1.0 else -1.0) * StrictMath.exp(v))
    }
  }

  /** Gap-detection override of an id's refdata day ratios (keyed by
    * epoch day) — EXACT sequential parity with factor_builder.py:789-814.
    * Guesses apply in ascending (day, guess) order, each one deciding
    * against the ratios AS MODIFIED by earlier guesses (the reference
    * mutates `per_day` inside its loop, so two gap days within one
    * calendar day of each other interact):
    *  - "similar" = any CURRENT ratio r0 in [d-1, d+1] with
    *    |r0 / guess| in [0.85, 1.15];
    *  - no similar ratio → upsert the guess at d (refdata missed the
    *    split entirely);
    *  - similar ratio on d+1 within 15% of the guess → drop the d+1 row
    *    and re-date its event to d (late execution date).
    *
    * Tie-order note: same-day guesses sort by guess value. The
    * reference applies them in its per-ticker file SCAN order, which is
    * filesystem-listing-dependent; when one id carries two tickers
    * gapping on the SAME day with different guesses, the last-write-wins
    * outcome can differ from a given reference run. Divergence accepted:
    * the reference's own order is not reproducible across machines.
    */
  private def applyGuesses(ratios: mutable.TreeMap[Int, Double],
      guesses: Array[(Int, Double)]): Unit =
    guesses.sorted.foreach { case (d, guess) =>
      val window = (d - 1 to d + 1).flatMap(ratios.get)
      val similar = window.exists { r0 =>
        val q = math.abs(r0 / guess); q >= 0.85 && q <= 1.15
      }
      if (!similar) ratios(d) = guess
      else ratios.get(d + 1) match {
        case Some(r1) if math.abs(r1 / guess - 1.0) <= 0.15 =>
          ratios.remove(d + 1)
          ratios(d) = guess
        case _ => ()
      }
    }

  /** The factor kernel for one id group. */
  private def factorsOf(id: String, rows: Array[GridDay], splits: Family,
      dividends: Family, exact: Boolean, ansi: Boolean): Iterator[DayFactors] = {
    val (days, groupTicker) = daysOf(rows)
    val ratios = mutable.TreeMap.empty[Int, Double]
    aligned(splits, id, days, groupTicker)._1.foreach { case (i, es) =>
      ratios(days(i)) = ratioProduct(es)
    }
    val guesses = rows.flatMap(r => r.guess.map(r.day -> _))
    if (guesses.nonEmpty) applyGuesses(ratios, guesses)
    val f = runningProduct(days.map(d => ratios.getOrElse(d, 1.0)), exact, signed = false)
    val spf = f.map(div(_, f.last, ansi))
    val svf = f.map(div(f.last, _, ansi))

    // dividend base: split-adjusted close of the id's last bar of the day
    val lastBar = rows.groupBy(_.day).map { case (d, rs) =>
      d -> rs.maxBy(r => (r.lastTime, r.ticker)) }
    val base = days.indices.map { i =>
      lastBar(days(i)).lastClose.map(_ * spf(i).getOrElse(1.0)) }
    val cash = aligned(dividends, id, days, groupTicker)._1
      .map { case (i, es) => i -> cashDouble(cashSum(es.map(_.value))) }
    val g = days.indices.map { i =>
      (cash.get(i), if (i > 0) base(i - 1) else None) match {
        case (Some(amount), Some(prior)) if positive(prior) => (prior - amount) / prior
        case _ => 1.0
      }
    }.toArray
    val gg = runningProduct(g, exact, signed = true)
    val tpf = gg.map(div(_, gg.last, ansi))

    val index = days.zipWithIndex.toMap
    rows.iterator.map { r =>
      val i = index(r.day)
      DayFactors(r.ticker, LocalDate.ofEpochDay(r.day), id, spf(i), svf(i), tpf(i))
    }
  }

  /** The event audit for one id group. */
  private def statsOf(id: String, rows: Array[GridDay], splits: Family,
      dividends: Family): EventStats = {
    val (days, groupTicker) = daysOf(rows)
    val (sByDay, sSel, sFallback) = aligned(splits, id, days, groupTicker)
    val (dByDay, dSel, dFallback) = aligned(dividends, id, days, groupTicker)
    val dayRatios = sByDay.values.map(ratioProduct).toArray
    java.util.Arrays.sort(dayRatios)
    val dayCash = dByDay.toSeq.sortBy(_._1).map { case (_, es) => cashSum(es.map(_.value)) }
    def date(d: Int) = LocalDate.ofEpochDay(d)
    EventStats(id,
      dayRatios.count(_ != 1.0).toLong, dayRatios.foldLeft(1.0)(_ * _),
      sByDay.keys.maxOption.map(i => date(days(i))),
      dayCash.count(c => positive(cashDouble(c))).toLong,
      if (dayCash.isEmpty) 0.0 else cashDouble(cashSum(dayCash)),
      dByDay.keys.maxOption.map(i => date(days(i))),
      sSel.map(_.day).maxOption.map(date), dSel.map(_.day).maxOption.map(date),
      sFallback, dFallback)
  }
}
