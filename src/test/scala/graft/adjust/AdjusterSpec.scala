package graft.adjust

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Golden end-to-end scenario (FIXTURES.md A5): three tickers, one 10:1
  * split dated on a weekend (exercises forward as-of snap), a dividend,
  * a dividend after the last bar (must be dropped), a ticker with no
  * events (factors == 1), and an expired security-master window
  * (NOFIGI__ fallback). Expected close_split / close_tr hand-computed.
  */
class AdjusterSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 21:00:00")
  private def d(s: String) = Date.valueOf(s)

  // Trading days: Mon-Fri 2024-01-01..01-05 and 01-08..01-12.
  private val daysAAA = Seq("2024-01-01", "2024-01-02", "2024-01-03",
    "2024-01-04", "2024-01-05", "2024-01-08", "2024-01-09", "2024-01-10",
    "2024-01-11", "2024-01-12")
  private val preClose = Seq(100.0f, 102.0f, 104.0f, 106.0f, 108.0f)
  private val postClose = Seq(11.0f, 11.2f, 11.4f, 11.6f, 11.8f)

  private lazy val bars = {
    val aaa = daysAAA.zip(preClose ++ postClose).map { case (day, c) =>
      (ts(day), "AAA", c, 1000L) }
    val bbb = daysAAA.take(3).zipWithIndex.map { case (day, i) =>
      (ts(day), "BBB", 50.0f + i, 500L) }
    val ccc = daysAAA.take(2).map(day => (ts(day), "CCC", 20.0f, 100L))
    (aaa ++ bbb ++ ccc).toDF("datetime", "ticker", "close", "volume")
  }

  private lazy val sm = Seq(
    ("AAA", "FIGI_AAA", Some(d("2023-01-01")), None: Option[Date]),
    ("CCC", "FIGI_CCC", Some(d("2023-01-01")), Some(d("2023-12-31")))) // expired
    .toDF("ticker", "composite_figi", "effective_start", "effective_end")

  // Both event families carry composite_figi, so AAA's id group keys
  // them DIRECTLY (event_id = FIGI_AAA) — no ticker fallback.
  private lazy val splits = Seq(
    // Saturday 2024-01-06 -> snaps forward to Monday 01-08
    ("AAA", d("2024-01-06"), 1.0, 10.0, 10.0, "FIGI_AAA"))
    .toDF("ticker", "execution_date", "split_from", "split_to", "ratio",
      "composite_figi")

  private lazy val dividends = Seq(
    ("AAA", d("2024-01-10"), 0.5, "FIGI_AAA"),
    ("AAA", d("2024-01-15"), 9.9, "FIGI_AAA")) // after last bar -> dropped
    .toDF("ticker", "ex_date", "cash_amount", "composite_figi")

  private lazy val adjusted = Adjuster.buildAdjusted(
    bars, sm, splits, dividends, Adjuster.MaterializeClose).cache()

  test("identity attach: FIGI, NOFIGI fallback, expired-window fallback") {
    val ids = adjusted.select($"ticker", $"id").distinct()
      .as[(String, String)].collect().toMap
    assert(ids("AAA") == "FIGI_AAA")
    assert(ids("BBB") == "NOFIGI__BBB")
    assert(ids("CCC") == "NOFIGI__CCC") // SM row exists but window expired
  }

  test("split adjustment: weekend split snaps to Monday, anchor-to-last") {
    val m = adjusted.filter($"ticker" === "AAA")
      .select(date_format($"datetime", "yyyy-MM-dd"), $"close_split", $"volume_split")
      .as[(String, Double, Double)].collect()
      .map { case (day, cs, vs) => day -> ((cs, vs)) }.toMap
    // pre-split days scaled by 1/10; volumes by 10
    daysAAA.take(5).zip(preClose).foreach { case (day, c) =>
      assert(approx(m(day)._1, c / 10.0), s"$day close_split ${m(day)._1}")
      assert(approx(m(day)._2, 10000.0), s"$day volume_split ${m(day)._2}")
    }
    // post-split days unchanged (anchored to last)
    daysAAA.drop(5).zip(postClose).foreach { case (day, c) =>
      assert(approx(m(day)._1, c.toDouble), s"$day close_split ${m(day)._1}")
      assert(approx(m(day)._2, 1000.0), s"$day volume_split ${m(day)._2}")
    }
  }

  test("total-return adjustment: dividend discounts prior days, late dividend dropped") {
    val m = adjusted.filter($"ticker" === "AAA")
      .select(date_format($"datetime", "yyyy-MM-dd"), $"close_split", $"close_tr")
      .as[(String, Double, Double)].collect()
      .map { case (day, cs, tr) => day -> ((cs, tr)) }.toMap
    // g on ex-day 01-10: (prior_base - amount)/prior_base with prior 11.2
    val g = (11.2 - 0.5) / 11.2
    daysAAA.foreach { day =>
      val (cs, tr) = m(day)
      val expected = if (day < "2024-01-10") cs / g else cs
      assert(approx(tr, expected, 1e-6), s"$day close_tr $tr != $expected")
    }
    // anchor: last-day TR equals split base exactly
    assert(approx(m("2024-01-12")._2, m("2024-01-12")._1))
  }

  test("no-event ticker: all factors exactly neutral") {
    val b = adjusted.filter($"ticker" === "BBB")
      .select($"close", $"close_split", $"close_tr",
        $"split_price_factor", $"tr_price_factor")
      .as[(Double, Double, Double, Double, Double)].collect()
    assert(b.nonEmpty)
    b.foreach { case (c, cs, tr, spf, tpf) =>
      assert(approx(cs, c) && approx(tr, c))
      assert(approx(spf, 1.0) && approx(tpf, 1.0))
    }
  }

  test("audit summary: cumulative split ratio recovered") {
    val audit = Adjuster.auditSummary(adjusted, splits, dividends)
      .filter($"ticker" === "AAA")
      .select($"n_days", $"cum_split_ratio", $"total_cash")
      .as[(Long, Double, Double)].head()
    assert(audit._1 == 10L)
    assert(approx(audit._2, 10.0, 1e-6))
    // only the ALIGNED dividend is in the cash audit — the 01-15 one
    // lands after the last bar and is dropped, exactly as the factor
    // grid dropped it (factor_builder.py:341 sums per-day aligned cash)
    assert(approx(audit._3, 0.5))
  }

  test("audit summary: alignment trail, day counts, fallback flag") {
    val a = Adjuster.auditSummary(adjusted, splits, dividends)
    val row = a.filter($"ticker" === "AAA")
      .select($"split_events_aligned", $"split_cum_ratio",
        date_format($"last_split_raw_date", "yyyy-MM-dd"),
        date_format($"last_split_aligned_day", "yyyy-MM-dd"),
        $"dividend_event_days",
        date_format($"last_dividend_raw_date", "yyyy-MM-dd"),
        date_format($"last_dividend_aligned_day", "yyyy-MM-dd"),
        date_format($"last_datetime", "yyyy-MM-dd HH:mm:ss"),
        $"used_fallback")
      .as[(Long, Double, String, String, Long, String, String, String, Boolean)]
      .head()
    assert(row._1 == 1L)                      // one aligned split day
    assert(approx(row._2, 10.0))              // product of aligned ratios
    assert(row._3 == "2024-01-06")            // raw Saturday date
    assert(row._4 == "2024-01-08")            // snapped to Monday
    assert(row._5 == 1L)                      // one aligned dividend day
    assert(row._6 == "2024-01-15")            // raw max INCLUDES the dropped one
    assert(row._7 == "2024-01-10")            // last aligned dividend day
    assert(row._8 == "2024-01-12 21:00:00")   // last bar timestamp
    assert(!row._9)                           // both families keyed by FIGI
    // no-event ticker: zero counts, null dates, neutral ratio — and the
    // reference's fallback flag is TRUE (its empty event_id selection
    // takes the fallback branch even when that is empty too)
    val bbb = a.filter($"ticker" === "BBB")
      .select($"split_events_aligned", $"split_cum_ratio",
        $"dividend_event_days", $"total_cash",
        $"last_split_aligned_day".isNull, $"last_dividend_raw_date".isNull,
        $"used_fallback")
      .as[(Long, Double, Long, Double, Boolean, Boolean, Boolean)].head()
    assert(bbb == ((0L, 1.0, 0L, 0.0, true, true, true)))
  }

  test("event keyed to a retired FIGI with no trading day left is dropped") {
    // Reference parity (factor_builder.py:247-251): DDD trades as
    // FIGI_OLD through 01-02, FIGI_NEW from 01-03. A 2:1 split keyed to
    // FIGI_OLD but executing 01-03 belongs to the OLD id group — which
    // has no trading day >= 01-03 — so it aligns nowhere. FIGI_NEW does
    // NOT inherit it: that group holds its own direct event (the 3:1 on
    // 01-04), so the ticker fallback never triggers. A ticker-keyed
    // snap would have applied the 2:1 to FIGI_NEW's 01-03 — the last
    // semantic divergence the r5 verdict asked to close.
    val bars2 = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
      .zipWithIndex.map { case (day, i) => (ts(day), "DDD", 100.0f + i, 10L) }
      .toDF("datetime", "ticker", "close", "volume")
    val sm2 = Seq(
      ("DDD", "FIGI_OLD", Some(d("2023-01-01")), Some(d("2024-01-02"))),
      ("DDD", "FIGI_NEW", Some(d("2024-01-03")), None: Option[Date]))
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val splits2 = Seq(
      ("DDD", d("2024-01-03"), 2.0, "FIGI_OLD"),
      ("DDD", d("2024-01-04"), 3.0, "FIGI_NEW"))
      .toDF("ticker", "execution_date", "ratio", "composite_figi")
    val noDiv = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "ex_date", "cash_amount")
    val adj = Adjuster.buildAdjusted(bars2, sm2, splits2, noDiv,
      Adjuster.MaterializeClose)
    val m = adj.select(date_format($"event_day", "yyyy-MM-dd"), $"id", $"close_split")
      .as[(String, String, Double)].collect()
      .map { case (day, id, cs) => day -> ((id, cs)) }.toMap
    assert(m("2024-01-01") == (("FIGI_OLD", 100.0)))  // 2:1 dropped entirely
    assert(m("2024-01-02") == (("FIGI_OLD", 101.0)))
    assert(m("2024-01-03")._1 == "FIGI_NEW")
    assert(approx(m("2024-01-03")._2, 102.0 / 3.0))   // only the 3:1 applies
    assert(approx(m("2024-01-04")._2, 103.0))
  }

  test("figi-less event reaches a FIGI suffix group via the ticker fallback") {
    // EEE trades NOFIGI__EEE through 01-02 (figi window opens 01-03). A
    // figi-less 2:1 split executing 01-04 keys to event_id NOFIGI__EEE:
    // the prefix group selects it DIRECTLY but cannot align it (no
    // prefix day >= 01-04 — and a failed alignment does not re-trigger
    // fallback), while FIGI_EEE, holding no direct events, falls back
    // to ticker EEE and applies it at 01-04. Reference behavior: the
    // same event row can serve several id groups
    // (factor_builder.py:247-251).
    val bars2 = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
      .map { day => (ts(day), "EEE", 100.0f, 10L) }
      .toDF("datetime", "ticker", "close", "volume")
    val sm2 = Seq(("EEE", "FIGI_EEE", Some(d("2024-01-03")), None: Option[Date]))
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val splits2 = Seq(("EEE", d("2024-01-04"), 2.0))
      .toDF("ticker", "execution_date", "ratio")
    val noDiv = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "ex_date", "cash_amount")
    val adj = Adjuster.buildAdjusted(bars2, sm2, splits2, noDiv,
      Adjuster.MaterializeClose)
    val m = adj.select(date_format($"event_day", "yyyy-MM-dd"), $"id", $"close_split")
      .as[(String, String, Double)].collect()
      .map { case (day, id, cs) => day -> ((id, cs)) }.toMap
    assert(m("2024-01-01") == (("NOFIGI__EEE", 100.0)))  // prefix unadjusted
    assert(m("2024-01-02") == (("NOFIGI__EEE", 100.0)))
    assert(m("2024-01-03")._1 == "FIGI_EEE")
    assert(approx(m("2024-01-03")._2, 50.0))             // fallback split applies
    assert(approx(m("2024-01-04")._2, 100.0))
    // selection flags: prefix keyed directly, suffix via fallback
    val sel = Factors.eventStats(
        adj.select($"id", $"ticker", $"event_day").distinct(), splits2, noDiv)
      .select($"id", $"split_used_fallback").as[(String, Boolean)]
      .collect().toMap
    assert(sel == Map("NOFIGI__EEE" -> false, "FIGI_EEE" -> true))
  }

  test("an id trading two tickers on one day keeps one factor per day") {
    // FIGI_X is AAA through 01-03 and BBB from 01-03: on 01-03 the id
    // trades both tickers. The BBB 2:1 split on 01-03 applies ONCE to
    // the id's series (factor_builder.py groups by id, one row per
    // trading day), and every input bar comes back exactly once.
    val bars2 = Seq(("2024-01-02", "AAA", "15:00", 100.0f), ("2024-01-03", "AAA", "15:00", 101.0f),
      ("2024-01-03", "BBB", "20:00", 50.0f), ("2024-01-04", "BBB", "20:00", 51.0f))
      .map { case (day, t, hm, c) => (Timestamp.valueOf(s"$day $hm:00"), t, c, 10L) }
      .toDF("datetime", "ticker", "close", "volume")
    val sm2 = Seq(
      ("AAA", "FIGI_X", None: Option[Date], Some(d("2024-01-03"))),
      ("BBB", "FIGI_X", Some(d("2024-01-03")), None: Option[Date]))
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val splits2 = Seq(("BBB", d("2024-01-03"), 2.0, "FIGI_X"))
      .toDF("ticker", "execution_date", "ratio", "composite_figi")
    val divs2 = Seq(("BBB", d("2024-01-04"), 1.0, "FIGI_X"))
      .toDF("ticker", "ex_date", "cash_amount", "composite_figi")
    val adj = Adjuster.buildAdjusted(bars2, sm2, splits2, divs2,
      Adjuster.MaterializeClose)
    val rows = adj.select($"ticker", date_format($"event_day", "yyyy-MM-dd"), $"id",
        $"split_price_factor", $"tr_price_factor")
      .as[(String, String, String, Double, Double)].collect()
    assert(rows.length == 4, rows.toSeq)
    val m = rows.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(rows.forall(_._3 == "FIGI_X"))
    assert(approx(m(("AAA", "2024-01-02"))._2, 0.5), s"split applied once: $m")
    assert(approx(m(("AAA", "2024-01-03"))._2, 1.0) && approx(m(("BBB", "2024-01-03"))._2, 1.0))
    // the 01-04 dividend's base is the id's last bar of 01-03 (BBB at
    // 20:00, 50.0), not AAA's 15:00 bar
    val g = (50.0 - 1.0) / 50.0
    Seq(("AAA", "2024-01-02"), ("AAA", "2024-01-03"), ("BBB", "2024-01-03"))
      .foreach(k => assert(approx(m(k)._3, 1.0 / g), s"$k tr ${m(k)._3}"))
    assert(approx(m(("BBB", "2024-01-04"))._3, 1.0))
  }

  test("bars sharing (ticker, datetime) collapse to one row") {
    val bars2 = Seq((ts("2024-01-02"), "DUP", 10.0f, 1L), (ts("2024-01-02"), "DUP", 11.0f, 2L),
      (ts("2024-01-03"), "DUP", 12.0f, 3L))
      .toDF("datetime", "ticker", "close", "volume")
    val noSm = Seq.empty[(String, String, Date, Date)]
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val noSplits = Seq.empty[(String, Date, Double)].toDF("ticker", "execution_date", "ratio")
    val noDiv = Seq.empty[(String, Date, Double)].toDF("ticker", "ex_date", "cash_amount")
    val out = Adjuster.buildAdjusted(bars2, noSm, noSplits, noDiv, Adjuster.MaterializeClose)
      .select(date_format($"event_day", "yyyy-MM-dd"), $"close".cast("double"))
      .as[(String, Double)].collect()
    assert(out.length == 2, out.toSeq)
    val kept = out.filter(_._1 == "2024-01-02").map(_._2)
    assert(kept.length == 1 && Set(10.0, 11.0).contains(kept.head), kept.toSeq)
  }
}
