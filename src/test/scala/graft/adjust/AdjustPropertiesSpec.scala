package graft.adjust

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Property-style invariants over randomized scenarios (SURVEY.md §5):
  * the split ratio is piecewise-constant and jumps only at aligned split
  * days (and where a ticker's id changes); notional (close × volume) is
  * conserved by split adjustment; the latest bar is always unadjusted
  * (anchor-to-last); adjustment with empty event tables is the identity.
  * Scenarios give a ticker no FIGI, a FIGI from a mid-window day (a
  * NOFIGI__ prefix), or a mid-window FIGI change, and key each event to
  * one of its FIGIs or to none — so both the direct and the ticker
  * fallback selection run.
  */
class AdjustPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new Random(20260812L)

  private case class Scenario(
      bars: Seq[(Timestamp, String, Float, Long)],
      sm: Seq[(String, String, Option[Date], Option[Date])],
      splits: Seq[(String, Date, Double, Option[String])],
      dividends: Seq[(String, Date, Double, Option[String])])

  private def genScenario(): Scenario = {
    val tickers = Seq("AAA", "BBB").take(1 + rnd.nextInt(2))
    val start = LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(20))
    val days = (0 until 15 + rnd.nextInt(15))
      .map(start.plusDays(_)).filter(d => d.getDayOfWeek.getValue <= 5)
    val bars = for (t <- tickers; d <- days) yield
      (Timestamp.valueOf(s"$d 21:00:00"), t,
        (50 + rnd.nextInt(100) + rnd.nextFloat()).toFloat, 100L + rnd.nextInt(1000))
    val sm = tickers.flatMap { t =>
      val mid = days(1 + rnd.nextInt(days.size - 1))
      rnd.nextInt(3) match {
        case 0 => Nil
        case 1 => Seq((t, s"FIGI_$t", Some(Date.valueOf(mid)), None))
        case _ => Seq(
          (t, s"FIGI_${t}_A", None, Some(Date.valueOf(mid.minusDays(1)))),
          (t, s"FIGI_${t}_B", Some(Date.valueOf(mid)), None))
      }
    }
    def figi(t: String): Option[String] = {
      val fs = sm.filter(_._1 == t).map(_._2)
      val k = rnd.nextInt(fs.size + 1)
      if (k == fs.size) None else Some(fs(k))
    }
    val splits = tickers.flatMap { t =>
      (0 until rnd.nextInt(4)).map { _ =>
        val d = start.plusDays(rnd.nextInt(days.size + 10)) // may land after last day
        (t, Date.valueOf(d), Seq(2.0, 3.0, 10.0, 0.5)(rnd.nextInt(4)), figi(t))
      }
    }
    val dividends = tickers.flatMap { t =>
      (0 until rnd.nextInt(3)).map { _ =>
        (t, Date.valueOf(start.plusDays(rnd.nextInt(days.size))), 0.25 + rnd.nextDouble(),
          figi(t))
      }
    }
    Scenario(bars, sm, splits, dividends)
  }

  private def adjust(s: Scenario) = Adjuster.buildAdjusted(
    s.bars.toDF("datetime", "ticker", "close", "volume"),
    s.sm.toDF("ticker", "composite_figi", "effective_start", "effective_end"),
    s.splits.toDF("ticker", "execution_date", "ratio", "composite_figi"),
    s.dividends.toDF("ticker", "ex_date", "cash_amount", "composite_figi"),
    Adjuster.MaterializeClose)

  /** Expected jumps of one ticker's close/close_split series, from the
    * reference's rules: per id group (the in-window FIGI, else
    * NOFIGI__ticker) the direct events, else all the ticker's events,
    * snapped forward onto the group's days. The ratio jumps at every
    * snapped day after the group's first whose ratio product is not 1,
    * and where the id changes unless the new group's later ratios
    * multiply to 1 (the old group ends anchored at 1). Also names the
    * selection path each group took.
    */
  private def expectedJumps(sc: Scenario, ticker: String,
      tradingDays: Seq[LocalDate]): (Int, Seq[String]) = {
    def idOf(d: LocalDate) = sc.sm.collectFirst {
      case (t, f, s, e) if t == ticker && s.forall(x => !d.isBefore(x.toLocalDate)) &&
          e.forall(x => !d.isAfter(x.toLocalDate)) => f
    }.getOrElse(Factors.NoFigiPrefix + ticker)
    val events = sc.splits.filter(_._1 == ticker)
    val groups = tradingDays.map(idOf).distinct.zipWithIndex.map { case (id, k) =>
      val idDays = tradingDays.filter(idOf(_) == id)
      val direct = events.filter(_._4.getOrElse(Factors.NoFigiPrefix + ticker) == id)
      val dayRatio = (if (direct.nonEmpty) direct else events)
        .flatMap(e => idDays.find(d => !d.isBefore(e._2.toLocalDate)).map(_ -> e._3))
        .groupMapReduce(_._1)(_._2)(_ * _)
      val later = dayRatio.filter(_._1 != idDays.head).values
      val jumps = later.count(r => math.abs(r - 1.0) > 1e-9) +
        (if (k > 0 && math.abs(later.product - 1.0) > 1e-9) 1 else 0)
      val path = if (direct.nonEmpty) "direct" else if (events.nonEmpty) "fallback" else "none"
      (jumps, if (k > 0) Seq(path, "id change") else Seq(path))
    }
    (groups.map(_._1).sum, groups.flatMap(_._2))
  }

  test("randomized invariants hold over 15 scenarios") {
    val paths = scala.collection.mutable.Set.empty[String]
    (1 to 15).foreach { i =>
      val sc = genScenario()
      val adj = adjust(sc).cache()
      val rows = adj
        .select($"ticker", $"datetime", $"close".cast("double"),
          $"volume".cast("double"), $"close_split", $"volume_split", $"close_tr",
          $"split_price_factor", $"tr_price_factor")
        .as[(String, Timestamp, Double, Double, Double, Double, Double, Double, Double)]
        .collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime)).toMap

      rows.foreach { case (ticker, series) =>
        // anchor-to-last: the latest bar is unadjusted
        val lastRow = series.last
        assert(approx(lastRow._5, lastRow._3, 1e-6), s"[$i/$ticker] last close_split")
        assert(approx(lastRow._7, lastRow._5, 1e-9), s"[$i/$ticker] last close_tr == close_split")
        assert(approx(lastRow._8, 1.0, 1e-9) && approx(lastRow._9, 1.0, 1e-9),
          s"[$i/$ticker] last factors")

        // notional conservation: close_split*volume_split == close*volume
        series.foreach { r =>
          assert(approx(r._5 * r._6, r._3 * r._4, 1e-6),
            s"[$i/$ticker] notional ${r._5 * r._6} != ${r._3 * r._4}")
        }

        // piecewise-constant split ratio; jump days = aligned split days
        val ratios = series.map(r => BigDecimal(r._3 / r._5)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val jumps = ratios.zip(ratios.drop(1)).count { case (a, b) => a != b }
        val tradingDays = series.map(_._2.toLocalDateTime.toLocalDate).distinct.sorted
        val (expected, taken) = expectedJumps(sc, ticker, tradingDays)
        paths ++= taken
        assert(jumps == expected, s"[$i/$ticker] jumps $jumps != expected $expected")
      }
      adj.unpersist()
    }
    assert(Set("direct", "fallback", "id change").subsetOf(paths), s"paths run: $paths")
  }

  test("empty event tables are the identity adjustment") {
    val sc = genScenario().copy(splits = Nil, dividends = Nil)
    val adj = adjust(sc)
    val bad = adj.filter(
      abs($"close_split" - $"close") > 1e-6 ||
        abs($"close_tr" - $"close") > 1e-6 ||
        abs($"split_price_factor" - 1.0) > 1e-12 ||
        abs($"tr_price_factor" - 1.0) > 1e-12).count()
    assert(bad == 0)
  }
}
