package graft.adjust

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Raw-gap split detection (factor_builder.py:789-814 minute-path
  * override, CLI default unless --no-detect-split-gaps): a 10:1
  * overnight price gap recovers a split that refdata missed entirely,
  * and re-dates a refdata split recorded one day late.
  */
class GapDetectSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String, hm: String = "21:00") = Timestamp.valueOf(s"$s $hm:00")
  private def d(s: String) = Date.valueOf(s)

  private val days = Seq("2024-02-01", "2024-02-02", "2024-02-05",
    "2024-02-06", "2024-02-07", "2024-02-08")
  // 10:1 split takes effect on day 4 (02-06): 104 -> 10.5
  private val closes = Seq(100.0f, 102.0f, 104.0f, 10.5f, 10.6f, 10.7f)

  // two bars per day so first_close != last_close exercises min_by/max_by
  private lazy val bars = days.zip(closes).flatMap { case (day, c) =>
    Seq((ts(day, "14:30"), "GGG", c, 1000L), (ts(day, "21:00"), "GGG", c + 0.1f, 1000L))
  }.toDF("datetime", "ticker", "close", "volume")

  private lazy val sm = Seq(("GGG", "FIGI_GGG", Some(d("2023-01-01")), None: Option[Date]))
    .toDF("ticker", "composite_figi", "effective_start", "effective_end")
  private lazy val noDividends = Seq.empty[(String, Date, Double)]
    .toDF("ticker", "ex_date", "cash_amount")

  private def dated(df: DataFrame): DataFrame =
    df.withColumn("event_day", to_date(col("datetime")))

  private def spfByDay(adj: DataFrame): Map[String, Double] =
    adj.select(date_format(col("event_day"), "yyyy-MM-dd"),
        col("split_price_factor"))
      .distinct().as[(String, Double)].collect().toMap

  test("missed split recovered from the overnight gap") {
    val noSplits = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "execution_date", "ratio")
    val adj = Adjuster.buildAdjusted(bars, sm, noSplits, noDividends,
      Adjuster.MaterializeClose, detectGaps = true)
    val spf = spfByDay(adj)
    // gap = 10.5 / 104.1 ≈ 0.1009 -> inverted 9.91 -> guess 10
    assert(approx(spf("2024-02-05"), 0.1), s"pre-split factor: $spf")
    assert(approx(spf("2024-02-01"), 0.1))
    assert(approx(spf("2024-02-06"), 1.0))
    assert(approx(spf("2024-02-08"), 1.0))
    // without the flag nothing is adjusted
    val off = spfByDay(Adjuster.buildAdjusted(bars, sm, noSplits, noDividends))
    assert(off.values.forall(v => approx(v, 1.0)))
  }

  test("refdata split dated one day late is moved onto the gap day") {
    val lateSplits = Seq(("GGG", d("2024-02-07"), 10.0))
      .toDF("ticker", "execution_date", "ratio")
    val adj = Adjuster.buildAdjusted(bars, sm, lateSplits, noDividends,
      Adjuster.MaterializeClose, detectGaps = true)
    val spf = spfByDay(adj)
    // split applied at 02-06 (the gap day), not 02-07: the 02-07 refdata
    // row is dropped and its ratio re-dated (±1-day dedup)
    assert(approx(spf("2024-02-05"), 0.1), s"got $spf")
    assert(approx(spf("2024-02-06"), 1.0), s"02-06 must be post-split: $spf")
    // without detection the factor flips a day later
    val off = spfByDay(Adjuster.buildAdjusted(bars, sm, lateSplits, noDividends))
    assert(approx(off("2024-02-06"), 0.1), s"got $off")
    assert(approx(off("2024-02-07"), 1.0))
  }

  test("correctly-dated refdata split is left untouched (no double count)") {
    val goodSplits = Seq(("GGG", d("2024-02-06"), 10.0))
      .toDF("ticker", "execution_date", "ratio")
    val on = spfByDay(Adjuster.buildAdjusted(bars, sm, goodSplits, noDividends,
      Adjuster.MaterializeClose, detectGaps = true))
    val off = spfByDay(Adjuster.buildAdjusted(bars, sm, goodSplits, noDividends))
    days.foreach { day =>
      assert(approx(on(day), off(day)), s"$day: ${on(day)} vs ${off(day)}")
    }
  }

  test("debug dumps: _id_days/_edges/_split_F/_div_G written and readable") {
    val noSplits = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "execution_date", "ratio")
    val dir = java.nio.file.Files.createTempDirectory("dbgdump").toString
    Adjuster.buildAdjusted(bars, sm, noSplits, noDividends,
      Adjuster.MaterializeClose, detectGaps = true,
      debugDump = Some(dir)).count()
    def reread(name: String) = spark.read.option("header", "true")
      .csv(s"$dir/$name.csv")
    assert(reread("_id_days").count() == days.size)
    assert(reread("_id_days").columns.toSet == Set("id", "ticker", "event_day"))
    val edges = reread("_edges")
    assert(edges.count() == days.size)
    assert(Set("first_close", "last_close", "prev_last", "raw_gap")
      .subsetOf(edges.columns.toSet))
    val f = reread("_split_F")
    assert(f.count() == days.size)
    assert(Set("split_price_factor", "split_volume_factor")
      .subsetOf(f.columns.toSet))
    val g = reread("_div_G")
    assert(g.count() == days.size)
    assert(g.columns.contains("tr_price_factor"))
  }

  test("adjacent same-ratio gap days apply sequentially (reference loop parity)") {
    // Two 2:1 drops on CALENDAR-adjacent days (02-06, 02-07). The
    // reference applies guesses in day order against the LIVE grid
    // (factor_builder.py:789-814): the 02-06 guess upserts ratio 2, so
    // the 02-07 guess sees it in its ±1-day window as "similar" (2/2 in
    // [0.85,1.15]), finds no d+1 refdata row to re-date, and is dropped.
    // A one-pass decision against the pre-override grid would apply
    // BOTH guesses (spf 0.25 before 02-06) — the divergence ADVICE r3
    // flagged; this pins the sequential behavior.
    val closes2 = Seq(100.0f, 100.0f, 100.0f, 50.0f, 25.0f, 25.0f)
    val bars2 = days.zip(closes2).flatMap { case (day, c) =>
      Seq((ts(day, "14:30"), "GGG", c, 1000L), (ts(day, "21:00"), "GGG", c, 1000L))
    }.toDF("datetime", "ticker", "close", "volume")
    val noSplits = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "execution_date", "ratio")
    val adj = Adjuster.buildAdjusted(bars2, sm, noSplits, noDividends,
      Adjuster.MaterializeClose, detectGaps = true)
    val spf = spfByDay(adj)
    assert(approx(spf("2024-02-05"), 0.5), s"only the first gap applies: $spf")
    assert(approx(spf("2024-02-06"), 1.0), s"got $spf")
    assert(approx(spf("2024-02-07"), 1.0), s"second gap suppressed: $spf")
    assert(approx(spf("2024-02-08"), 1.0))
  }

  test("gap on an id/FIGI validity boundary is still detected (ticker lag)") {
    // Same bars, but the security's identity changes overnight exactly on
    // the split day: FIGI_OLD valid through 02-05, FIGI_NEW from 02-06.
    val sm2 = Seq(
      ("GGG", "FIGI_OLD", Some(d("2023-01-01")), Some(d("2024-02-05"))),
      ("GGG", "FIGI_NEW", Some(d("2024-02-06")), None: Option[Date]))
      .toDF("ticker", "composite_figi", "effective_start", "effective_end")
    val withId = Factors.attachId(Factors.dayGrid(dated(bars)), sm2)
    val ids = withId.select(date_format(col("event_day"), "yyyy-MM-dd"), col("id"))
      .distinct().as[(String, String)].collect().toMap
    assert(ids("2024-02-05") == "FIGI_OLD" && ids("2024-02-06") == "FIGI_NEW")
    // Reference parity (_scan_day_edges groups by TICKER,
    // factor_builder.py:739-743): the lag crosses the identity boundary.
    // An id-partitioned lag returns null here — the split would be
    // silently undetectable.
    val e = Factors.gapGuesses(withId)
    val gap = e.filter(col("event_day") === lit("2024-02-06").cast("date"))
      .select(col("raw_gap")).as[Double].head()
    assert(gap > 0.095 && gap < 0.105, s"boundary gap $gap")
    val g = e.select(col("id"), col("guess"))
      .filter(col("guess").isNotNull).as[(String, Double)].collect().toSeq
    assert(g == Seq(("FIGI_NEW", 10.0)), s"guesses $g")
    // Documented divergence (day-path semantics): the factor kernel anchors
    // per id (factor_builder.py:363 groups the day path by id); the
    // reference's MINUTE path groups factors per ticker
    // (factor_builder.py:769), which would also rescale FIGI_OLD's days.
    // With the split ratio landing on FIGI_NEW's first day, per-id
    // anchoring leaves every factor at 1.0 — pinned so a future
    // re-keying of the grid shows up here.
    val noSplits = Seq.empty[(String, Date, Double)]
      .toDF("ticker", "execution_date", "ratio")
    val spf = Factors.factorTable(e, noSplits, noDividends, exact = true)
      .select(col("split_price_factor")).as[Double].collect()
    assert(spf.forall(v => approx(v, 1.0)), s"per-id anchoring: ${spf.toSeq}")
  }

  test("day edges: first/last close and prior-day gap") {
    val e = Factors.gapGuesses(Factors.dayGrid(dated(bars)))
      .select(date_format(col("event_day"), "yyyy-MM-dd"),
        col("first_close").cast("double"), col("last_close").cast("double"),
        col("raw_gap"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // closes are stored as float — compare at float precision
    assert(approx(e("2024-02-01")._1, 100.0, 1e-6) &&
      approx(e("2024-02-01")._2, 100.1, 1e-6))
    assert(e("2024-02-01")._3.isEmpty) // no prior day
    val gap = e("2024-02-06")._3.get
    assert(gap > 0.095 && gap < 0.105, s"gap $gap")
  }
}
